package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** The modules the benchmark attributes time and Spark work to through
  * spans. `GraftSession` is a layer too, but its one call, the session
  * build, runs before a listener can be registered: it reports its wall
  * time only. */
object Layers {
  val all: Seq[String] = Seq("io", "sampling", "text", "features",
    "train", "metrics", "publish", "CorpusRunner", "queries")
  /** Work outside every layer span: the benchmark's own materialization
    * barriers between layers. Kept apart, never reported as a layer. */
  val bench = "bench"
}

/** One timed call into a layer. `parent` is the enclosing span's id (-1 at
  * the top); spans of one pass share `pass`. */
final case class Span(id: Int, layer: String, name: String, pass: Int, parent: Int,
                      start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work charged to one (pass, layer): jobs, tasks, executor run time,
  * time tasks waited (scheduler delay plus deserialization), shuffle write,
  * spill and failed tasks. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var waitMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Charges each Spark job, its stages and their tasks to the span open on
  * the submitting thread, read from the job's local property. */
final class WorkListener extends SparkListener {
  private val stageOwner = mutable.Map.empty[Int, String]
  private val work = mutable.Map.empty[String, Work]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .getOrElse(Layers.bench)
    work.getOrElseUpdate(owner, new Work).jobs += 1
    e.stageIds.foreach(stageOwner(_) = owner)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work.getOrElseUpdate(stageOwner.getOrElse(e.stageId, Layers.bench), new Work)
    w.tasks += 1
    if (e.reason != Success) w.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val schedulerDelay = (info.finishTime - info.launchTime - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult).max(0L)
      w.runMs += m.executorRunTime
      w.waitMs += schedulerDelay + m.executorDeserializeTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def get(owner: String): Option[Work] = synchronized(work.get(owner))
}

/** In-memory span recorder. `span` opens a span, tags every Spark job the
  * body submits with `<pass>/<layer>`, and closes the span when the body
  * returns; spans are written out once, at the end of the run. */
final class Tracer(sc: SparkContext) {
  val listener = new WorkListener
  sc.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  var pass = 0

  def span[T](layer: String, name: String = "")(body: => T): T = {
    val s = Span(spans.size, layer, if (name.isEmpty) layer else name, pass,
      open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    open = s :: open
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, s"$pass/$layer")
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.Key, prev)
    }
  }

  /** Self seconds per layer in `pass`: span durations minus the part their
    * child spans cover. */
  def selfSeconds(pass: Int): Map[String, Double] = {
    val ofPass = spans.filter(_.pass == pass)
    val childSecs = ofPass.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ofPass.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childSecs.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Seconds per span name in `pass`, for per-query wall times. */
  def namedSeconds(pass: Int, layer: String): Map[String, Double] =
    spans.filter(s => s.pass == pass && s.layer == layer).groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(_.seconds).sum }

  def work(pass: Int, layer: String): Work = {
    PerfbenchBus.drain(sc)
    listener.get(s"$pass/$layer").getOrElse(new Work)
  }

  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    s"""{"id":${s.id},"layer":"${s.layer}","name":"${s.name}","pass":${s.pass},""" +
      s""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}"""
  }
}

object Tracer {
  val Key = "perfbench.span"
}
