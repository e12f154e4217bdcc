package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's task accounting is complete before it is read. The bus is
  * package-private to Spark; this one call is the only reason this object
  * lives in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
