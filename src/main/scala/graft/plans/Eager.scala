package graft.plans

import org.apache.spark.sql.DataFrame

/** The eager checkpoint-and-release idiom behind the exact-rank family
  * and the KN language models: a SMALL output is materialized with
  * `localCheckpoint(true)` so the big internal caches feeding it (the
  * range-sorted frame, the n-gram type tables) can be unpersisted
  * deterministically instead of leaking for the session.
  *
  * The checkpoint is a job of its own, run while the DataFrame is built;
  * its plan is one of the executed plans `PlanDump` records for the query.
  */
object Eager {

  /** Materialize `df` eagerly, then run `release` (cache unpersists). */
  def checkpoint(df: DataFrame)(release: => Unit): DataFrame = {
    val out = df.localCheckpoint(true); release; out
  }
}
