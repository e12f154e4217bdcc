package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._

/** Aggregated run progress and task work as seen by [[RunStatusListener]].
  * `taskTimeMs` is the summed executor run time of finished tasks;
  * `spillBytes` counts memory and disk spill together. */
final case class RunStatus(
    jobsStarted: Long, jobsSucceeded: Long, jobsFailed: Long,
    stagesCompleted: Long, tasksCompleted: Long,
    taskTimeMs: Long = 0L, shuffleWriteBytes: Long = 0L, spillBytes: Long = 0L) {
  def state: String =
    if (jobsFailed > 0) "FAILED"
    else if (jobsStarted > jobsSucceeded) "RUNNING"
    else "COMPLETED"

  /** The counts accumulated between `before` and this snapshot. */
  def since(before: RunStatus): RunStatus = RunStatus(
    jobsStarted - before.jobsStarted, jobsSucceeded - before.jobsSucceeded,
    jobsFailed - before.jobsFailed, stagesCompleted - before.stagesCompleted,
    tasksCompleted - before.tasksCompleted, taskTimeMs - before.taskTimeMs,
    shuffleWriteBytes - before.shuffleWriteBytes, spillBytes - before.spillBytes)
}

/** Run-status hook — the public replacement for the reference's Spark
  * listener (util/CustomSparkListener.scala:17-75, which POSTs
  * RUNNING/COMPLETED to a fixed HTTP endpoint; dropped as proprietary —
  * SURVEY §2.11). Progress and task work are tracked from the scheduler
  * bus; every job/stage transition is handed to `onUpdate` and every
  * completed stage to `onStage`. The transport (HTTP, log line, metrics
  * system) is the caller's choice, and the defaults are no-ops so
  * registering the listener never adds I/O to the job path.
  *
  * This is the engine's one collector: `Bench`, `ScalingBench` and
  * `ProfileQuery` read their job, task, shuffle and spill numbers from it.
  *
  * Register with `spark.sparkContext.addSparkListener(new RunStatusListener(...))`.
  */
final class RunStatusListener(
    onUpdate: RunStatus => Unit = _ => (),
    onStage: StageInfo => Unit = _ => ())
    extends SparkListener {

  private val started = new AtomicLong
  private val succeeded = new AtomicLong
  private val failed = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val taskTime = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong

  def status: RunStatus =
    RunStatus(started.get, succeeded.get, failed.get, stages.get, tasks.get,
      taskTime.get, shuffleWrite.get, spill.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    onUpdate(status)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    e.jobResult match {
      case JobSucceeded => succeeded.incrementAndGet()
      case _ => failed.incrementAndGet()
    }
    onUpdate(status)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    onStage(e.stageInfo)
    onUpdate(status)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    // a failed task may carry no metrics
    Option(e.taskMetrics).foreach { tm =>
      taskTime.addAndGet(tm.executorRunTime)
      shuffleWrite.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(tm.memoryBytesSpilled + tm.diskBytesSpilled)
    }
    // no onUpdate per task: task counts surface on the next job/stage
    // transition, keeping callback frequency bounded by stages, not tasks
  }
}
