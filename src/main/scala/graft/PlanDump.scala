package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-evidence dump: the FORMATTED physical plans each query EXECUTED,
  * so the plan-shape claims (pushdown, pruning, broadcast choice, keyed
  * windows, no cartesian products) are reviewable as a committed artifact
  * and diffable between rounds — a silently-acquired exchange or a lost
  * PushedFilters shows up in the diff before it shows up in the bench.
  *
  * Each query is built and written in full to the `noop` sink (the action
  * `Bench` times) under a `QueryExecutionListener`; every execution it
  * records — the build-time checkpoint and collect jobs, then the write —
  * is dumped in order as its final adaptive plan (`isFinalPlan=true`).
  *
  * Run: sbt "runMain graft.PlanDump [sfDir [query ...]]"
  *  - no query names: the headline set, written to bench/PLANS.md
  *    (override: SPARK_GRAFT_PLANS_OUT);
  *  - query names: those queries, printed to stdout.
  */
object PlanDump {
  private val Headline = Seq(
    "q1_pricing_summary",  // scan + partial agg: PushedFilters/ReadSchema
    "q3_top_revenue",      // broadcast dim join
    "window_dwell",        // keyed window
    "rfm_tiers",           // exact global ntiles, two-pass range sort
    "dedup_minhash",       // LSH banding + pair-driven verify
    "ann_ivf",             // coarse-quantized ANN probe
    "media_neardup_sampled", // sampled pair histogram under a broadcast
    "span_scrub",          // block-hash first-occurrence + rebuild
    "hard_negatives",      // broadcast-bounded contrastive mining
    "gains_deciles",       // ntile + tiny self-join, no global window
    "score_rank_norm",     // global range-sort rank + broadcast offsets
    "ann_probe_persisted", // probe-only plan over the published index
    "ann_probe_pq",        // ADC codes-scan probe + bounded exact re-rank
    "trigram_ppl",         // KN LM aggs + trigram-keyed score join
    "fourgram_ppl",        // pruned 4-gram left join + backoff coalesce
    "fivegram_ppl",        // pruned 5-gram left join + backoff coalesce
    "funnel_windowed",     // stage filter below ONE user-keyed shuffle
    "bm25_topk",           // pre-shuffle term filter + TakeOrdered top-k
    "semantic_decontam_ann", // eval probes × inverted lists, no crossJoin
    "group_sample",        // md5-coin rank → WindowGroupLimit pushdown
    "ewma_smooth",         // bucket-blocked band join, bounded fan-out
    "item_cooccur",        // basket self-join + exact-integer lift
    "triangle_count",      // degree-oriented wedge join + edge semi-join
    "containment_pairs",   // capped inverted index, one-pass pair agg
    "rolling_zscore",      // keyed frame aggregates, row-local score
    "gap_fill_locf",       // day-spine explode + ignoreNulls running window
    "bpe_apply",           // vocab-fold broadcast join over corpus words
    "fuzzy_pairs",         // prefix/suffix block joins + banded Levenshtein
    "cusum_alerts",        // rebased prefix-sum CUSUM, user-keyed windows
    "cms_est_err",         // mergeable count-min grid + broadcast probe
    "peak_concurrency",    // interval sweep on the two-pass running sum
    "isotonic_calibration", // PAV minimax on the O(bins) reduced frame
    "embed_rp",            // row-local JL projection, zero pre-agg shuffle
    "weighted_percentiles", // global range sort + running weight CDF
    "hll_est_err",         // register grid partial agg + tiny estimate join
    "label_prop",          // iterative keyed join vs the cached edge list
    "curriculum_order",    // exact ntile tiers + coin-shuffled global rank
    "ann_ndcg",            // membership join over tiny per-query frames
    "dq_checks",           // rule scans + keyed FK join, unioned report
    "kmv_est_err",         // bottom-k coin ranks → WindowGroupLimit pushdown
    "bloom_filter",        // dim-built bit set broadcast to the probe side
    "weighted_percentiles_interp", // collapsed knot CDF + flanking-knot aggs
    "decontam_bloom",      // broadcast bloom prefilter + exact semi-join verify
    "zorder_layout",       // row-local morton fold + exact ntile buckets
    "mann_whitney",        // distinct-value rank sums, no global window
    "embed_corr",          // ONE co-moment aggregate, no explode (round 12)
    "novelty_curve",       // min-doc-per-shingle groupBy + ntile deciles
    "soft_dedup_weights",  // dedup-shuffle reuse + keyed weight join
    "ann_mmr",             // bounded candidate table + greedy argmax rounds
    "media_neardup",       // codegen ByteFold features + broadcast pair join
    "jpeg_codec",          // row-local DCT codec (scan-bound map)
    "gif_codec",           // row-local LZW codec (scan-bound generator)
    "webp_codec",          // row-local VP8L codec (scan-bound generator)
    "flac_codec",          // row-local Rice/predictor codec (scan-bound)
    "jpeg_exif_meta",      // row-local segment walk + strip (scan-bound)
    "mp4_meta",            // row-local box walk (scan-bound map)
    "mp3_meta",            // row-local frame-header walk (scan-bound map)
    "unigram_lm_train",    // EM over the vocab table, 1-row ok-set broadcasts
    "msprt_peek")          // filtered-sequence look explode + keyed agg

  /** Runs `action` and returns every query execution it completed, in
    * order, with the name of the action that ran it. */
  def executions(spark: SparkSession)(action: => Unit): Seq[(String, QueryExecution)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(name -> qe)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try action
    finally {
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.toSeq.drop(1)
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query: $n"))
    val spark = GraftSession.local(8, "graft-plan-dump")
    def render(name: String): String = {
      val ran = executions(spark)(Bench.materialize(SparkEntry.queries(name)(spark, sfDir)))
      spark.catalog.clearCache()
      ran.zipWithIndex.map { case ((action, qe), i) =>
        s"\n### ${i + 1}/${ran.size}: $action\n\n```\n" +
          qe.explainString(FormattedMode).trim + "\n```\n"
      }.mkString(s"\n## $name\n", "", "")
    }
    if (names.nonEmpty) names.foreach(n => print(render(n)))
    else {
      val sb = new StringBuilder
      sb.append("# Headline query plans (generated by graft.PlanDump — do not edit)\n\n")
      sb.append(s"Source: `$sfDir`; mode: formatted physical plans as executed " +
        "(build-time jobs, then the full `noop` write).\n")
      val dumped = Headline.filter(SparkEntry.queries.contains)
      dumped.foreach(name => sb.append(render(name)))
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "bench/PLANS.md"))
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(out, sb.toString)
      println(s"[plans] wrote ${dumped.size} queries' plans to $out")
    }
    spark.stop()
  }
}
