package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One benchmark run: one set-up (session plus seeded inputs) timed from
  * JVM start, a first pass in the fresh JVM right after it, then
  * back-to-back warm passes until the measured window is over and the
  * workload's minimum is reached (a traced run alternates untraced and
  * traced passes and reaches the minimum for each); one client thread,
  * never two passes at once.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --result <file> --expected <file> [--spans <file>]
  *
  * Writes the result object (`correct`, `attempted`, `failed`, `metrics`)
  * to `--result`, and the first pass's check values beside it. */
object Main {

  /** Per-layer metrics, reported by traced runs (zero where a layer does
    * not take part in the workload). */
  val perLayer: Seq[(String, String)] = {
    val layer = ("GraftSession.wall_s" -> "s") +: Layers.all.flatMap(l => Seq(
      s"$l.wall_s" -> "s", s"$l.jobs" -> "count", s"$l.tasks" -> "count",
      s"$l.task_s" -> "s", s"$l.busy_ratio" -> "ratio", s"$l.wait_s" -> "s",
      s"$l.shuffle_mb" -> "MB", s"$l.spill_mb" -> "MB", s"$l.failed_tasks" -> "count"))
    val extras = Seq(
      "io.savepoint_mb_per_input_mb" -> "ratio", "features.num_features" -> "count",
      "train.fits" -> "count", "train.cached_mb" -> "MB") ++
      CurateThenTrain.steps.map(op => s"CorpusRunner.$op.keep_ratio" -> "ratio") ++
      QueryMix.queries.map(q => s"queries.$q.wall_s" -> "s")
    val pass = Seq("trace.overhead_s" -> "s", "pass.fit_s" -> "s", "pass.curate_s" -> "s",
      "pass.publish_s" -> "s", "pass.score_rows_per_s" -> "rows/s",
      "pass.model_quality" -> "ratio", "pass.peak_mem_mb" -> "MB", "pass.failed_ops" -> "ratio")
    layer ++ extras ++ pass
  }

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, result: String, expected: String,
                        spans: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("result"), need("expected"), m.get("spans"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  final case class Pass(out: PassOut, secs: Double, peakMb: Double, traced: Boolean, id: Int)

  /** Ends the JVM with halt: the program's fit thread pools are not
    * daemon threads, so a normal return, or a throw, would leave it
    * running. Spark's shutdown hooks only delete the run's scratch dirs,
    * which the launcher removes. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    Runtime.getRuntime.halt(code)
  }

  private def run(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.byName(o.workload)
    val cores = GraftSession.envCores
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val inputDir = s"${o.work}/inputs"
    Files.createDirectories(Paths.get(inputDir))

    // set-up: session build plus input generation, timed from JVM start
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores, s"perfbench-${w.name}")
    val sessionSecs = (System.nanoTime() - t0) / 1e9
    val setup = w.generate(spark, inputDir, o.seed)
    val setupSecs = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"[perfbench] setup: $setupSecs%.3fs (session $sessionSecs%.3fs)")
    setup.inputs.foreach(in => System.err.println(
      s"[perfbench] input ${in.name}: rows=${in.rows} bytes=${in.bytes} files=${in.files}"))
    writeManifest(o, setup)

    val tracer = if (o.trace) Some(new Tracer(spark.sparkContext)) else None
    var passNo = 0
    def pass(traced: Boolean): Pass = {
      passNo += 1
      val out = new PassOut
      heapPools.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      try {
        if (traced) { tracer.get.pass = passNo; w.traced(spark, setup, o.seed, tracer.get, out) }
        else w.run(spark, setup, o.seed, out)
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          out.fail(s"pass threw $e")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val peak = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
      spark.catalog.clearCache()
      System.gc()
      Pass(out, secs, peak, traced, passNo)
    }

    def log(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs $what")
    log("set up")
    val first = pass(traced = false)
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val warm = mutable.ArrayBuffer.empty[Pass]
    def enough(traced: Boolean) = warm.count(_.traced == traced) >= w.minWarmPasses
    while (System.nanoTime() < deadline || !enough(false) || (o.trace && !enough(true)))
      warm += pass(traced = o.trace && warm.lastOption.exists(!_.traced))

    log("passes done")
    // checks: every pass repeats the first pass (traced passes the keys
    // they share with it, and the first traced pass otherwise), and the
    // first pass matches the values recorded for this seed
    Expected.load(o.expected, w.name, o.seed) match {
      case Some(r) => compare(first.out, r, "recorded")
      case None => System.err.println(s"[perfbench] NOT CHECKED: ${o.expected} has no values " +
        s"recorded for ${w.name} seed ${o.seed}; passes are checked against each other only")
    }
    val firstTraced = warm.find(_.traced)
    warm.foreach { p =>
      compare(p.out, first.out.checks.toMap, "first pass")
      if (p.traced) firstTraced.foreach(f => if (f ne p) compare(p.out, f.out.checks.toMap, "first traced pass"))
    }
    val passes = first +: warm.toSeq
    passes.flatMap(_.out.failures).distinct.foreach { case (op, msg) =>
      System.err.println(s"[perfbench] FAILED $op: $msg")
    }
    val attempted = passes.map(_.out.attempted).sum
    val failed = passes.map(_.out.failed).sum

    val ok = (p: Pass) => p.out.failures.isEmpty
    val untraced = warm.filter(p => !p.traced && ok(p)).toSeq
    // a failed pass never enters a median as a fast time: with no good
    // pass the window's whole length stands in
    val runS = if (untraced.nonEmpty) median(untraced.map(_.secs)) else warm.map(_.secs).sum

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupSecs, "s"),
        ("first_run_s", first.secs, "s"),
        ("run_s", runS, "s"))
      else {
        val t = tracer.get
        val tracedPasses = warm.filter(p => p.traced && ok(p)).toSeq
        val values = mutable.Map.empty[String, Double]
        values("GraftSession.wall_s") = sessionSecs
        def med(f: Pass => Double) = median(tracedPasses.map(f))
        Layers.all.foreach { l =>
          val per = tracedPasses.map { p =>
            val self = t.selfSeconds(p.id).getOrElse(l, 0.0)
            (self, t.work(p.id, l))
          }
          def m(f: ((Double, Work)) => Double) = median(per.map(f))
          values(s"$l.wall_s") = m(_._1)
          values(s"$l.jobs") = m(_._2.jobs.toDouble)
          values(s"$l.tasks") = m(_._2.tasks.toDouble)
          values(s"$l.task_s") = m(_._2.runMs / 1e3)
          values(s"$l.busy_ratio") = m { case (self, wk) => if (self > 0) wk.runMs / 1e3 / (self * cores) else 0.0 }
          values(s"$l.wait_s") = m(_._2.waitMs / 1e3)
          values(s"$l.shuffle_mb") = m(_._2.shuffleBytes / 1e6)
          values(s"$l.spill_mb") = m(_._2.spillBytes / 1e6)
          values(s"$l.failed_tasks") = m(_._2.failedTasks.toDouble)
        }
        tracedPasses.flatMap(_.out.layerExtras.keys).distinct.foreach { k =>
          values(k) = med(_.out.layerExtras.getOrElse(k, 0.0))
        }
        QueryMix.queries.foreach { q =>
          values(s"queries.$q.wall_s") = med(p => t.namedSeconds(p.id, "queries").getOrElse(q, 0.0))
        }
        values("trace.overhead_s") = med(_.secs) - runS
        Seq("fit_s", "curate_s", "publish_s", "score_rows_per_s", "model_quality").foreach { k =>
          values(s"pass.$k") = median(untraced.flatMap(_.out.phases.get(k)))
        }
        values("pass.peak_mem_mb") = median(untraced.map(_.peakMb))
        values("pass.failed_ops") = failed.toDouble / attempted
        o.spans.foreach(f => Files.write(Paths.get(f), t.jsonLines.asJava))
        perLayer.map { case (n, u) => (n, values.get(n).filterNot(_.isNaN).getOrElse(0.0), u) }
      }

    log("metrics computed")
    val json = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      .mkString(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
    Files.writeString(Paths.get(o.result), json + "\n")
    Files.writeString(Paths.get(o.result + ".checks"), Expected.render(first.out.checks.toMap) + "\n")
    System.err.println(s"[perfbench] passes: first=${first.secs} warm=" +
      warm.map(p => f"${p.secs}%.3f${if (p.traced) "t" else ""}").mkString(","))
    spark.stop()
    log("session stopped")
  }

  private def compare(p: PassOut, ref: Map[String, String], what: String): Unit =
    p.checks.foreach { case (k, v) =>
      ref.get(k).filterNot(r => same(k, r, v)).foreach { r =>
        p.fail(s"$k = $v, $what had $r", opOf(k, p))
      }
    }

  /** Model quality may differ in the last bits with summation order. */
  private def same(k: String, a: String, b: String): Boolean =
    if (k == "model_quality") math.abs(a.toDouble - b.toDouble) <= 1e-9 * math.abs(a.toDouble).max(1.0)
    else a == b

  private def opOf(check: String, p: PassOut): String = {
    val op = check.stripPrefix("fp.").replaceFirst("^rows_after_\\d+_", "")
    if (p.ops.contains(op)) op else "pass"
  }

  private def writeManifest(o: Opts, s: Setup): Unit = {
    val items = s.inputs.map(i =>
      s"""{"name": "${i.name}", "rows": ${i.rows}, "bytes": ${i.bytes}, "files": ${i.files}}""")
    Files.writeString(Paths.get(o.work, "inputs.json"),
      s"""{"workload": "${o.workload}", "seed": ${o.seed}, "inputs": [${items.mkString(", ")}]}""" + "\n")
  }
}
