package org.apache.spark

/** Waits until every queued listener event has been delivered, so counters
  * read right after an action are complete. The bus is package-private to
  * Spark; this one call is the only reason this object lives here. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
