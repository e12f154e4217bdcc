package graft

/** Scaling-evidence bench: times a headline query subset at TWO scale
  * factors and reports the wall-clock growth ratio next to the data growth
  * ratio. The point is measured evidence for the scale-design claims —
  * a plan that is secretly quadratic (all-pairs, single-partition window,
  * corpus-sized broadcast) shows a ratio far above the data growth; a
  * healthy shuffle-on-key plan tracks it or stays below (fixed overhead
  * amortizes). Same timing path as [[Bench]] (`Bench.attempt`): the full
  * output written to the `noop` sink, warm once, median of
  * `SPARK_GRAFT_RUNS` (default 3) per (query, sf).
  *
  * Run: sbt "runMain graft.ScalingBench"
  * Writes bench/SCALING_LOCAL.json (override: SPARK_GRAFT_SCALING_OUT).
  */
object ScalingBench {
  // headline subset: one representative per plan family (scan-agg, join,
  // window, global rank, dedup/LSH, ANN, sketch, text agg)
  private val Headline = Seq(
    "q1_pricing_summary", // scan + map-side combine agg
    "q5_region_revenue",  // multi-join + agg
    "window_dwell",       // keyed window
    "rfm_tiers",          // exact global ntiles (two-pass range sort)
    "dedup_exact",        // hash-keyed dedup
    "dedup_minhash",      // LSH banding + pair-driven verify
    "ann_ivf",            // coarse-quantized ANN probe
    "heavy_hitters",      // partial aggs + broadcast totals
    "doc_entropy",        // token-keyed + doc-keyed agg
    "unigram_ppl",        // corpus LM fit + per-doc score
    "span_scrub",         // block-hash first-occurrence + doc rebuild
    "hard_negatives",     // broadcast-bounded query set × streamed corpus
    "trigram_ppl",        // KN trigram LM fit + trigram-keyed score join
    "fourgram_ppl",       // pruned KN 4-gram + trigram backoff scoring
    "fivegram_ppl",       // pruned KN 5-gram + 4-gram backoff scoring
    "funnel_windowed",    // one user-keyed shuffle + codegen HOF chain DP
    "ppm_codec",          // row-local real encode/decode/resize throughput
    "interevent_gaps",    // keyed lag window + rank-selected percentiles
    "ann_probe_persisted", // probe-only serving path over published index
    "ann_probe_pq",       // PQ-coded (ADC) probe over the published index
    "bm25_topk",          // filtered token stream + fixed-order score
    "semantic_decontam_ann", // eval probes × inverted lists, no crossJoin
    "pagerank",           // iterative keyed graph joins, per-iter checkpoint
    "bpe_train",          // iterative vocab-table merge learning
    "ewma_smooth",        // bucket-blocked band join (bounded fan-out)
    "triangle_count",     // degree-ordered wedge join (O(E^1.5))
    "fuzzy_pairs",        // prefix/suffix blocking + banded Levenshtein
    "ann_mmr",            // bounded greedy re-rank rounds over candidates
    "cusum_alerts",       // keyed prefix-sum/running-min windows
    "cms_est_err",        // mergeable counter grid + broadcast probe
    "hll_est_err",        // register partial agg + tiny estimate join
    "weighted_percentiles", // global range sort + running weight CDF
    "peak_concurrency",   // two-pass running sum over the sweep order
    "label_prop",         // iterative keyed label joins
    "kmv_est_err",        // bottom-k distinct sketch (WindowGroupLimit)
    "bloom_filter",       // broadcast membership bit set
    "weighted_percentiles_interp", // collapsed knot CDF interpolation
    "png_codec",          // row-local deflate codec (CPU/scan-bound)
    "jpeg_codec",         // row-local DCT codec (CPU/scan-bound)
    "gif_codec",          // row-local LZW codec (CPU/scan-bound)
    "webp_codec",         // row-local VP8L codec (CPU/scan-bound)
    "flac_codec",         // row-local Rice/predictor codec (CPU/scan-bound)
    "mp4_meta",           // row-local box walk (scan-bound)
    "mp3_meta",           // row-local frame-header walk (scan-bound)
    "unigram_lm_train",   // EM over the Heaps-bounded vocab table
    "embed_corr",         // one-pass array-valued co-moment aggregate
    "embed_rp",           // row-local JL projection (scan-bound)
    "jpeg_progressive",   // row-local multi-scan codec (CPU/scan-bound)
    "webp_meta",          // row-local RIFF chunk walk (scan-bound)
    "audio_dedup_content", // decode + fingerprint, ONE keyed shuffle
    "audio_dedup_robust",  // gain-invariant sign-delta fingerprint shuffle
    "video_dedup_content", // sample-table build/walk + fingerprint shuffle
    "bpe_apply_persisted") // artifact load + vocab-bounded fold + bcast join

  def main(args: Array[String]): Unit = {
    val sfs = Seq(
      sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01"),
      sys.env.getOrElse("SPARK_GRAFT_SF_LARGE", "/root/testdata/sf0.1"))
    val runs = math.max(1, sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(3))
    val spark = GraftSession.local(GraftSession.envCores, "graft-scaling-bench")

    val collector = new RunStatusListener()
    spark.sparkContext.addSparkListener(collector)
    def median(name: String, sfDir: String): Double =
      Bench.median(Bench.attempt(spark, collector, runs)(
        SparkEntry.queries(name)(spark, sfDir))).secs

    val rows = Headline.filter(SparkEntry.queries.contains).map { name =>
      val Seq(small, large) = sfs.map(d => median(name, d))
      val ratio = if (small > 0) large / small else -1.0
      name -> (small, large, ratio)
    }
    def f(d: Double) = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val qs = rows.map { case (n, (s, l, r)) =>
      s""""$n":{"small":${f(s)},"large":${f(l)},"ratio":${f(r)}}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"scaling","small":"${sfs.head}","large":"${sfs(1)}","runs":$runs,"queries":$qs}"""
    println(line)
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_SCALING_OUT", "/root/repo/bench/SCALING_LOCAL.json"))
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(out, line + "\n")
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[scaling] write failed: $e")
    }
    spark.stop()
  }
}
