package perfbench

import scala.collection.mutable

import graft.{CorpusRunner, PipelineRunner, SparkEntry}
import graft.config.GraftConf
import graft.features.VectorizationEngine
import graft.io.{Savepoints, SourceReader}
import graft.metrics.StandardMetrics
import graft.publish.Publish
import graft.sampling.TrainTestSampler
import graft.text.PreprocessingEngine
import graft.train.ModelTrainingEngine
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What one pass measured and produced. `checks` are outputs that must
  * repeat exactly from pass to pass (and match the recorded value for the
  * seed); `ops` are the pass's sub-operations (corpus steps, queries), each
  * of which counts toward `attempted` and, if it threw or failed a check,
  * toward `failed`. */
final class PassOut {
  val phases = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, String]
  val layerExtras = mutable.LinkedHashMap.empty[String, Double]
  val ops = mutable.ArrayBuffer.empty[String]
  /** (op, message); op "pass" is the pass itself. */
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  def fail(msg: String, op: String = "pass"): Unit = failures += op -> msg
  def attempted: Int = 1 + ops.size
  /** The pass fails with any of its ops; each failed op counts too. */
  def failed: Int =
    if (failures.isEmpty) 0 else 1 + failures.map(_._1).distinct.count(ops.contains)
}

/** Inputs a workload generated, and facts about them that checks use. */
final case class Setup(dir: String, inputs: Seq[Gen.Input], facts: Map[String, Double])

trait Workload {
  def name: String
  /** Generates the inputs for `seed` under `dir`. */
  def generate(spark: SparkSession, dir: String, seed: Long): Setup
  /** One untraced pass: the user-facing calls, fully materialized. */
  def run(spark: SparkSession, s: Setup, seed: Long, out: PassOut): Unit
  /** One traced pass: the same work, one span per layer call, each
    * layer's output materialized at its boundary. */
  def traced(spark: SparkSession, s: Setup, seed: Long, t: Tracer, out: PassOut): Unit
  /** Warm passes a run makes at least, whatever the window. */
  def minWarmPasses: Int = 1
}

object Workloads {
  val all: Seq[Workload] = Seq(CurateThenTrain, QueryMix)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Observed metrics of finished queries, by observation name. Named
    * observations are read through a listener rather than with
    * `Observation`, whose session-held registry makes the session — and
    * any fitted model that references it — unserializable. */
  private val observed = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]
  private val listening = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean])
  private val observations = new java.util.concurrent.atomic.AtomicLong

  /** Writes `df` in full with the `noop` sink — every column computed,
    * nothing pruned — and returns the values of `aggs` over its rows. */
  private def writeObserved(df: DataFrame, aggs: Column*): org.apache.spark.sql.Row = {
    val spark = df.sparkSession
    if (listening.add(spark)) spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (n, r) => observed.put(n, r) }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val name = s"perfbench_${observations.incrementAndGet()}"
    df.observe(name, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Option(observed.remove(name)).getOrElse(sys.error(s"no observed metrics for $name"))
  }

  /** Runs `df` to completion with a `noop` write and returns its rows. */
  def materialize(df: DataFrame): Long = writeObserved(df, count(lit(1)).as("n")).getLong(0)

  /** Materializes `df` fully and returns `rows:sum:xor` over a row hash —
    * an order-independent fingerprint. Doubles are hashed at float
    * precision so summation order in aggregates cannot flip it. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => c.cast(FloatType)
        case ArrayType(DoubleType | FloatType, n) => c.cast(ArrayType(FloatType, n))
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val h = xxhash64(cols: _*)
    val r = writeObserved(df, count(lit(1)).as("n"),
      sum(pmod(h, lit(1000000007L))).as("s"), bit_xor(h).as("x"))
    s"${r.get(0)}:${r.get(1)}:${r.get(2)}"
  }

  /** Heap bytes cached by Spark right now (memory plus disk). */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def bytesUnder(f: java.io.File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  def fmt(d: Double): String = java.lang.Double.toString(d)
}

import Workloads._

/** The curate-then-train handoff. A crawl with planted duplicates and a
  * planted intent label goes through the CorpusRunner chain with a parquet
  * savepoint after every step; the config-driven pipeline then trains a
  * multi-intent model on the curation savepoint — the full text chain,
  * bigrams, TF-IDF, a multinomial LR — publishes it, reloads it and scores
  * a hold-out set with it. */
object CurateThenTrain extends Workload {
  val name = "curate_then_train"
  val rows = 500L
  val dupRate = 0.15
  val nearRate = 0.10
  val holdoutRows = 200L
  /** Lowest acceptable test weighted F1: the planted signal must be learnt. */
  val minQuality = 0.6
  val steps: Seq[String] = Seq("dedup_exact", "dedup_minhash", "quality_gate", "temp_mix")

  def generate(spark: SparkSession, dir: String, seed: Long): Setup = {
    val crawl = Gen.writeSingle(Gen.crawl(spark, seed, rows, dupRate, nearRate), dir, "crawl",
      Gen.crawlRows(rows, dupRate, nearRate))
    val holdout = Gen.writeSingle(Gen.docs(spark, seed, holdoutRows, 1000000000L), dir,
      "holdout", holdoutRows)
    Setup(dir, Seq(crawl, holdout), Map("distinct_texts" -> (rows + (rows * nearRate).toLong).toDouble))
  }

  def curateConf(s: Setup): GraftConf = GraftConf.fromJson(
    s"""{
       |  "project": {"name": "curate", "root": "${s.dir}/project"},
       |  "data": {"source": "parquet://${s.dir}/crawl.parquet"},
       |  "columns": {"response": "intent"},
       |  "corpus": {"steps": [
       |    {"op": "dedup_exact"},
       |    {"op": "dedup_minhash", "threshold": 0.7},
       |    {"op": "quality_gate", "minTokens": 10, "maxTokens": 5000},
       |    {"op": "temp_mix", "quota": ${rows * 6 / 10}, "alpha": 0.5, "groupColumn": "source"}
       |  ]}
       |}""".stripMargin)

  def trainConf(s: Setup, seed: Long): GraftConf = {
    val cleaned = new Savepoints(curateConf(s).project).path("corpus", 0, "clean")
    GraftConf.fromJson(
      s"""{
         |  "project": {"name": "train_on_curated", "root": "${s.dir}/project"},
         |  "data": {"source": "parquet://$cleaned"},
         |  "columns": {"response": "intent", "text": ["text"], "primaryKey": ["doc_id"]},
         |  "sampling": {"samplingType": "random", "split": [80, 20], "seed": $seed},
         |  "preprocessing": [
         |    {"op": "case_normalization", "inputColumn": "text", "outputColumn": "t_lower"},
         |    {"op": "stopwords", "inputColumn": "t_lower", "outputColumn": "t_stop", "stopwords": ["the", "a"]},
         |    {"op": "stemming", "inputColumn": "t_stop", "outputColumn": "t_stem"},
         |    {"op": "tokenizer", "inputColumn": "t_stem", "outputColumn": "tokens"}
         |  ],
         |  "featureGeneration": {"ngrams": [2]},
         |  "vectorization": {"method": "tfidf", "slots": 2048},
         |  "training": {"algorithm": "logistic_regression", "buildType": "multi_intent",
         |               "params": {"maxIter": 5, "regParam": 0.01}}
         |}""".stripMargin)
  }

  private def stepKey(i: Int): String = s"rows_after_${i + 1}_${steps(i)}"

  /** Per-step row counts must repeat, and exact dedup must keep exactly
    * one copy of every distinct text the generator wrote. */
  private def checkSteps(s: Setup, inRows: Long, rows: Seq[Long], out: PassOut): Unit = {
    out.checks("rows_input") = inRows.toString
    rows.zipWithIndex.foreach { case (n, i) =>
      out.ops += steps(i)
      out.checks(stepKey(i)) = n.toString
      val before = if (i == 0) inRows else rows(i - 1)
      out.layerExtras(s"CorpusRunner.${steps(i)}.keep_ratio") = n.toDouble / before
    }
    val distinct = s.facts("distinct_texts").toLong
    if (rows.head != distinct)
      out.fail(s"dedup_exact kept ${rows.head} rows, the crawl holds $distinct distinct texts",
        "dedup_exact")
  }

  private def checkQuality(q: Double, out: PassOut): Unit = {
    out.checks("model_quality") = fmt(q)
    out.phases("model_quality") = q
    if (!(q >= minQuality)) out.fail(s"model_quality $q below $minQuality")
  }

  /** Scores the hold-out set through the published pipeline, loaded back
    * from disk, and writes it in full; every hold-out row must be scored. */
  private def scoreHoldout(spark: SparkSession, s: Setup, c: GraftConf, out: PassOut): Unit = {
    val (rows, secs) = timed(materialize(
      PipelineModel.load(new Savepoints(c.project).publishPath(1))
        .transform(spark.read.parquet(s"${s.dir}/holdout.parquet"))))
    out.checks("holdout_rows") = rows.toString
    out.phases("score_rows_per_s") = rows / secs
    if (rows != holdoutRows) out.fail(s"scored $rows hold-out rows of $holdoutRows")
  }

  def run(spark: SparkSession, s: Setup, seed: Long, out: PassOut): Unit = {
    val (cur, curS) = timed(CorpusRunner.run(spark, curateConf(s), savepointing = true))
    out.phases("curate_s") = curS
    checkSteps(s, cur.metrics("rows_input").toLong,
      steps.indices.map(i => cur.metrics(stepKey(i)).toLong), out)
    val c = trainConf(s, seed)
    val (res, fitS) = timed(PipelineRunner.run(spark, c))
    out.phases("fit_s") = fitS
    checkQuality(res.metrics("weightedF1_test"), out)
    val (_, pubS) = timed(PipelineRunner.publish(c, res))
    out.phases("publish_s") = pubS
    scoreHoldout(spark, s, c, out)
  }

  /** `CorpusRunner.run`, then `PipelineRunner.run`, step by step in their
    * call order, with a span around each public layer call and each
    * layer's output cached and written at its boundary. */
  def traced(spark: SparkSession, s: Setup, seed: Long, t: Tracer, out: PassOut): Unit = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached += df.persist(); df }

    // curation: CorpusRunner.run with savepointing
    val cc0 = curateConf(s)
    val cc = cc0.corpus.get
    val sp = new Savepoints(cc0.project)
    val (raw, inRows) = t.span("io") {
      val df = SourceReader.read(spark, cc0.data, cc0.columns)
      (df, df.count())
    }
    var df = raw
    val rows = cc.steps.zipWithIndex.map { case (step, i) =>
      val stepped = t.span("CorpusRunner", step.op) {
        val o = keep(CorpusRunner.applyStep(df, step, cc))
        materialize(o)
        o
      }
      val key = s"corpus_step${i + 1}_${step.op}"
      df = t.span("io") {
        sp.save(stepped, key, 0, "clean")
        sp.load(spark, key, 0, "clean")
      }
      t.span("CorpusRunner", step.op)(df.count())
    }
    t.span("io")(sp.save(df, "corpus", 0, "clean"))
    checkSteps(s, inRows, rows, out)
    val written = cc.steps.indices.map(i => s"corpus_step${i + 1}_${cc.steps(i).op}") :+ "corpus"
    out.layerExtras("io.savepoint_mb_per_input_mb") =
      written.map(k => bytesUnder(new java.io.File(sp.path(k, 0, "clean")))).sum.toDouble /
        s.inputs.find(_.name == "crawl").get.bytes

    // training: PipelineRunner.run on the curation savepoint
    val c = trainConf(s, seed)
    val cols = c.columns
    val input = t.span("io") {
      val df = keep(SourceReader.read(spark, c.data, cols))
      materialize(df)
      df
    }
    val (splits, splitRows) = t.span("sampling") {
      val ss = TrainTestSampler.sample(input, c.sampling, cols.response, cols.primaryKey).map(keep)
      (ss, ss.map(materialize))
    }
    val tokenCols = c.preprocessing.collect { case p if p.op == "tokenizer" => p.outputColumn.get }
    val textModel = t.span("text") {
      new Pipeline().setStages(PreprocessingEngine.buildStages(c.preprocessing).toArray).fit(splits.head)
    }
    val texted = t.span("text")(splits.map { d => val o = keep(textModel.transform(d)); materialize(o); o })
    val vecModel = t.span("features") {
      new Pipeline().setStages(VectorizationEngine.buildStages(texted.head, cols,
        c.featureGeneration, c.vectorization, tokenCols).toArray).fit(texted.head)
    }
    val keepCols = (cols.primaryKey :+ cols.response :+ "features").distinct
    val before = cachedBytes(spark)
    val vectorized = t.span("features") {
      texted.map { d => val o = keep(vecModel.transform(d).select(keepCols.map(col): _*)); materialize(o); o }
    }
    out.layerExtras("train.cached_mb") = (cachedBytes(spark) - before) / 1e6
    out.layerExtras("features.num_features") =
      vectorized.head.select("features").head().getAs[org.apache.spark.ml.linalg.Vector](0).size
    val chain = t.span("train")(ModelTrainingEngine.fit(vectorized.head, c.training, c.tuning, cols.response))
    out.layerExtras("train.fits") = 1
    val scored = t.span("train")(vectorized.map { d => val o = keep(chain.transform(d)); (o, materialize(o)) })
    scored.zip(splitRows).foreach { case ((_, n), want) =>
      if (n != want) out.fail(s"scored $n rows of a $want-row split")
    }
    checkQuality(t.span("metrics") {
      StandardMetrics.weightedSummary(scored(1)._1, "label", "prediction").head().getDouble(3)
    }, out)

    // publish, then score the hold-out set through the reloaded artifact
    t.span("publish") {
      val prep = new Pipeline().setStages(textModel.stages ++ vecModel.stages).fit(input.limit(1))
      Publish.save(Publish.combined(prep, chain, input), new Savepoints(c.project).publishPath(1))
    }
    t.span("publish")(scoreHoldout(spark, s, c, out))
    cached.foreach(_.unpersist())
  }
}

/** A fixed set of contract queries, one per plan family, in a fixed
  * order; each output is written in full and fingerprinted. The order is
  * not drawn from the seed: on the same inputs, one order ran every query
  * of the pass about a fifth slower than another. */
object QueryMix extends Workload {
  val name = "query_mix"
  val queries: Seq[String] = Seq(
    "q1_pricing_summary", // relational: hash aggregate
    "ab_welch",           // experiment statistics over events
    "tfidf_stats",        // text ops
    "png_codec",          // multimodal codec
    "item_cooccur")       // graph analytics: self-join co-occurrence

  def generate(spark: SparkSession, dir: String, seed: Long): Setup = {
    val orders = 6000L
    val inputs = Seq(
      Gen.writeSingle(Gen.lineitem(spark, seed, orders, parts = 800), dir, "lineitem", orders * 4),
      Gen.writeSingle(Gen.orders(spark, seed, orders, customers = 600), dir, "orders", orders),
      Gen.writeSingle(Gen.events(spark, seed, 10000L, users = 150), dir, "events", 10000),
      Gen.writeSingle(Gen.crawl(spark, seed, 1000L, dupRate = 0.05, nearRate = 0.05), dir,
        "documents", Gen.crawlRows(1000L, 0.05, 0.05)))
    Setup(dir, inputs, Map.empty)
  }

  /** A pass is short and mostly driver-side planning, whose JIT warm-up
    * goes on for several warm passes at a pace that differs from run to
    * run: the median of five depends little on it. */
  override def minWarmPasses: Int = 5

  private def one(spark: SparkSession, s: Setup, q: String, out: PassOut): Unit = {
    out.ops += q
    try {
      val fp = fingerprint(SparkEntry.queries(q)(spark, s.dir))
      out.checks(s"fp.$q") = fp
      if (fp.startsWith("0:")) out.fail(s"$q returned no rows", q)
    } catch {
      case scala.util.control.NonFatal(e) => out.fail(s"$q threw $e", q)
    }
  }

  def run(spark: SparkSession, s: Setup, seed: Long, out: PassOut): Unit =
    queries.foreach(q => one(spark, s, q, out))

  def traced(spark: SparkSession, s: Setup, seed: Long, t: Tracer, out: PassOut): Unit =
    queries.foreach(q => t.span("queries", q)(one(spark, s, q, out)))
}
