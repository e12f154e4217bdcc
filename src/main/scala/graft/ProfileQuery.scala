package graft

/** Measurement tool (guide §1): run one named query repeatedly and report
  * where the wall-clock goes — DataFrame construction, job/stage counts,
  * per-stage task time, shuffle bytes — so optimization targets the real
  * cost, not a guess. Output is human-readable, never part of the bench
  * contract. Runs go through `Bench.attempt`, so the profile is of the
  * same full-output action the bench times.
  *
  * Run: ProfileQuery <query> [sfDir] [runs]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local(GraftSession.envCores, "graft-profile")
    val fn = SparkEntry.queries(name)

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.scheduler.StageInfo]
    val collector = new RunStatusListener(onStage = si => stages.add(si))
    spark.sparkContext.addSparkListener(collector)
    val timed = Bench.attempt(spark, collector, runs)(fn(spark, sfDir))

    timed.zipWithIndex.foreach { case (t, i) =>
      val w = t.work
      println(f"== run ${i + 1}: total ${t.secs}%.3fs  build ${t.buildSecs}%.3fs  " +
        f"exec ${t.secs - t.buildSecs}%.3fs  jobs ${w.jobsStarted}  " +
        f"stages ${w.stagesCompleted}  tasks ${w.tasksCompleted}  " +
        f"task time ${w.taskTimeMs / 1e3}%.3fs  shW ${w.shuffleWriteBytes / 1024}KB  " +
        f"spill ${w.spillBytes / 1024}KB")
    }
    // the last run's stages are the last ones the collector saw
    import scala.jdk.CollectionConverters._
    val last = stages.asScala.toVector.takeRight(timed.last.work.stagesCompleted.toInt)
    def wallMs(si: org.apache.spark.scheduler.StageInfo): Long =
      (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
    last.sortBy(-wallMs(_)).take(20).foreach(si => println(
      f"   stage ${si.stageId}%4d tasks ${si.numTasks}%3d wall ${wallMs(si)}%6dms " +
      f"taskSum ${si.taskMetrics.executorRunTime}%6dms " +
      f"shW ${si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1024}%8dKB  " +
      si.name.takeWhile(_ != '\n').take(60)))
    spark.stop()
  }
}
