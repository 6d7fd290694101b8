package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints a SHORT total-first JSON line (the driver's
  * captured tail truncated round 1's single 4 KB line, leaving the gate
  * unparseable), then the full per-query map as a second line, and also
  * writes it to target/bench_queries.json. Failed queries are recorded
  * with time -1 and listed under "errors" instead of masquerading as a
  * fast timing.
  */
object Bench {

  /** One `warm:` line: the registered queries that consume a shared
    * build, and the build. */
  final case class WarmLine(name: String, consumers: Set[String],
      build: (SparkSession, String) => Unit)

  private def prefixed(prefixes: String*): Set[String] =
    SparkEntry.queries.keySet.filter(n => prefixes.exists(n.startsWith))

  private val shingleConsumers = Set("q_tfidf_cosine_pairs", "q_boilerplate",
    "q_shingle_df_profile", "q_text_repetition", "q_decontaminate",
    "q_dedup_ngram", "q_dedup_containment")

  private val mfFamily = prefixed("q_mf", "q_antidote", "q_metric", "q_ratings")

  /** Cold/warm attribution (PERF.md "Bench semantics"): warm mode (the
    * default) builds each shared memo UP FRONT as its own timed line, in
    * this order, so no query's number silently includes (or double-pays)
    * a shared build and per-query times are reproducible across runs. A
    * line runs when any selected query is one of its consumers. Order
    * constraints: `warm:als_model` precedes `warm:item_ivf` (which then
    * bills the Lloyd build, not the ALS training) and the sweep runs last
    * (its α = 0 budget reuses the memoized model and ratings view). */
  val warmLines: Seq[WarmLine] = Seq(
    // Shared input-table cache: a 400+-query batch over the SAME inputs
    // re-scans each parquet file hundreds of times; a production batch
    // job caches the hot tables once. Correctness-neutral: CacheManager
    // substitutes the identical logical plan, Verify never caches. Each
    // table's cache+count is its own job, 4 in flight.
    WarmLine("warm:tables", SparkEntry.queries.keySet, (s, d) =>
      Concurrently(4)(Tables.all.map(n =>
        () => { Tables.load(s, d, n).cache().count(); () }))),
    // ShingleStore: the raw-document shingle consumers split two explode
    // configs; each config's bucketed-table WRITE is its own line.
    WarmLine("warm:shingles_k5", shingleConsumers,
      (s, d) => { llm.ShingleStore.counted(s, d, 5, 2000).count(); () }),
    WarmLine("warm:shingles_k20", shingleConsumers,
      (s, d) => { llm.ShingleStore.counted(s, d, 20, 2000).count(); () }),
    // StreamOps ordered-slice store: every incremental maintainer replays
    // the same events table, sliced once.
    WarmLine("warm:stream_slices", prefixed("q_stream"),
      streaming.StreamOps.warmSlices),
    // Banded simhash (LlmQueries.simhashSigs/simhashCands): one signature
    // pass serves all six near-dup queries, the threshold sweep included;
    // the five pair queries also read one thr-cutoff pair frame.
    WarmLine("warm:simhash_sigs", Set("q_dedup_simhash_pairs",
      "q_dedup_detector_overlap", "q_dedup_clusters_det",
      "q_dedup_rate_by_source", "q_near_dup_eval",
      "q_dedup_threshold_sweep"),
      (s, d) => { operators.LlmQueries.simhashSigs(s, d); () }),
    WarmLine("warm:simhash_cand", Set("q_dedup_simhash_pairs",
      "q_dedup_detector_overlap", "q_dedup_clusters_det",
      "q_dedup_rate_by_source", "q_near_dup_eval"),
      operators.LlmQueries.warmSimhashCands),
    // PairStore: the part-graph family's edge backbone — one blocked fact
    // self-join serves every consumer (the CF recommenders read its
    // symmetric closure).
    WarmLine("warm:basket_pairs", Set("q_item_cooccur", "q_assoc_rules",
      "q_cc_labelprop", "q_triangle_count", "q_degree_hist",
      "q_graph_2hop", "q_clustering_coeff", "q_kcore", "q_assortativity",
      "q_rich_club", "q_jaccard_neighbors", "q_adamic_adar",
      "q_pref_attach", "q_avg_nbr_degree", "q_user_recs_cf", "q_rec_gini",
      "q_pop_bias", "q_novelty_recs"), operators.PairStore.warm),
    // TradeGraph: ≤625-row nation-trade edge list.
    WarmLine("warm:trade_edges", Set("q_pagerank", "q_ppr",
      "q_closeness_centrality", "q_eigenvector_centrality",
      "q_katz_centrality", "q_modularity_regions", "q_reciprocity"),
      operators.TradeGraph.warm),
    // SimSearch ANN indexes: three independent builds (disjoint memo
    // keys) as concurrent jobs; the gemm index is q_map_at_k_ann's
    // corpus-adaptive one (8 lists up to sf0.1; bigger corpora size it
    // ~250 vectors/list).
    WarmLine("warm:ann_indexes", Set("q_sim_trained_ivf", "q_sim_pq",
      "q_sim_ivfpq", "q_map_at_k_ann"), (s, d) => {
      val embs = Tables.load(s, d, "embeddings")
      val nl = math.max(8,
        math.min(4096, math.round(embs.count() / 250.0).toInt))
      Concurrently(3)(Seq(
        () => { llm.SimSearch.ivfIndexCached(embs, d, nLists = 8,
          lloydIters = 2); () },
        () => { llm.SimSearch.pqIndexCached(embs, d, dims = 64, m = 16,
          codebookSize = 32, lloydIters = 2); () },
        () => { llm.SimSearch.ivfIndexGemmCached(embs, d, nl,
          lloydIters = 2); () }))
    }),
    // The MF family's three memos: ratings view, ALS model, baseline
    // scalars.
    WarmLine("warm:ratings_view", mfFamily,
      (s, d) => { ml.Ratings.viewCached(s, d); () }),
    WarmLine("warm:als_model", mfFamily,
      (s, d) => { ml.AlsEngine.trainCachedOnRatingsView(s, d); () }),
    WarmLine("warm:baseline_pol_rmse", mfFamily,
      (s, d) => { ml.Baseline.polRmseCached(s, d); () }),
    // Trained-IVF index over the ALS item factors.
    WarmLine("warm:item_ivf", Set("q_mf_topk_recs_ann"),
      operators.MfQueries.warmItemIvf),
    // The optimized-antidote sweep (≈4 ALS retrains + GD steps, the
    // paper's Alg. 1 cost) feeds its two readouts, and its α = 0.01
    // branch's trains and memoized step are the U_grp trace's iteration 0.
    WarmLine("warm:antidote_sweep",
      Set("q_antidote_sweep_als", "q_antidote_figure",
        "q_antidote_trace_grp"),
      operators.MfQueries.warmSweep))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Rung-scaled shuffle width (VERDICT r12 task 8): cpus-many shuffle
    // partitions is right for the sf0.1 driver rung, but a big-rung run
    // (60 M-row shuffles through a shared heap) wants partitions sized
    // so each fits comfortably in memory — the ladder runbook sets
    // SPARK_GRAFT_SHUFFLE_PARTITIONS (e.g. 128 at sf10); AQE coalesces
    // small ones back, so oversizing costs little.
    val spark = Verify.session(cpus, sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS"))
    // SPARK_GRAFT_ONLY=q1,q2 benches a subset — for isolating noisy
    // measurements.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    /** Seconds `f` took, or -1 (with its cause on stderr) if it threw. */
    def timed(name: String)(f: => Any): Double = {
      val t0 = System.nanoTime()
      try { f; (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${Verify.cause(e)}")
        -1.0
      }
    }
    val warmResults = warmLines
      .filter(w => only.forall(sel => w.consumers.exists(sel.contains)))
      .map(w => w.name -> timed(w.name)(w.build(spark, sfDir)))
    // The keep-set is snapshotted AFTER warmup so the table cache
    // survives every release pass.
    val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
    var sinceGc = 0
    // Best-of-2 threshold: 2.5 s keeps the full-registry wall time
    // inside any stdout capture window.
    val best2Sec = 2.5
    val results = warmResults ++ selected.map { case (name, fn) =>
      val dt1 = timed(name)(fn(spark, sfDir).count())
      // Small queries report best-of-2 (VERDICT r8 task 6): the
      // single-JVM co-tenant noise floor swings small queries >2×
      // between runs, swallowing real regressions; min-of-2 estimates
      // the intrinsic cost (noise only ever ADDS time). Skipped for
      // queries big enough that noise is relatively small.
      val dt =
        if (dt1 >= 0 && dt1 < best2Sec) {
          val dt2 = timed(name)(fn(spark, sfDir).count())
          if (dt2 >= 0) math.min(dt1, dt2) else dt1
        } else dt1
      Verify.releaseUnowned(spark, keep)
      // Deterministic GC cadence (billed OUTSIDE the per-query timer,
      // like the release pass): lets ContextCleaner reclaim the shuffle
      // files dead queries left behind before they tax the late-run
      // tail. Skip the cadence at ≤8 cores (VERDICT r14 task 7): a full
      // GC pause is ~4× of the 8-core run's per-query floor and distorts
      // the 8-vs-32-core scaling control; the 2-min periodic
      // ContextCleaner GC (which the longer low-core run reaches more
      // often) keeps reclaiming shuffle files there.
      sinceGc += 1
      if (sinceGc >= 64) {
        sinceGc = 0
        if (scala.util.Try(cpus.toInt).getOrElse(32) > 8) System.gc()
      }
      (name, dt)
    }
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val errors = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // The full 145-entry map is a >4 KB single line; both prior rounds the
    // driver's bounded stdout-tail capture truncated it mid-line and the
    // gate went unevaluated ("parsed": null). So the LAST line printed is a
    // contract-complete JSON line whose "queries" map holds a fixed headline
    // subset (one per operator family, all the expensive ones) and stays
    // well under 2 KB; the complete map goes to target/bench_queries.json
    // and is printed once, earlier, for human eyes.
    val headline = Seq(
      "q_scan_project", "q_filter_range", "q_join_inner", "q_join_broadcast",
      "q_join_asof", "q_lateral_topn", "q_agg_groupby", "q_agg_rollup",
      "q_agg_stats", "q_window_rank", "q_window_running", "q_topk_per_group",
      "q_window_ntile", "q_orderby_limit", "q_union_all", "q_string_funcs",
      "q_json_funcs", "q_array_hof", "q_stream_tumbling", "q_stream_stateful",
      "q_mf_als_train", "q_antidote_step", "q_antidote_sweep_als",
      "q_metric_polarization", "q_mf_compact_train", "q_dedup_exact",
      "q_dedup_minhash", "q_dedup_ngram", "q_dedup_embed_lsh", "q_sim_search",
      "q_sim_search_ivf", "q_sim_trained_ivf", "q_kmeans_assign",
      "q_tfidf_topterms", "q_pack_sequences", "q_heavy_hitters",
      "q_decontaminate", "q_metric_rmse_holdout", "q_join_bloom",
      // round 7: the expensive/new-family representatives
      "q_sim_pq", "q_cc_labelprop", "q_dedup_minhash_det", "q_bpe_train",
      "q_stream_checksum", "q_rec_coverage", "q_interval_overlap",
      "q_dedup_clusters_det", "q_table_checksum",
      "q_item_cooccur", "q_triangle_count", "q_kmv_distinct",
      "q_embed_outlier", "q_dedup_containment", "q_join_bucketed",
      "q_mf_foldin", "q_sim_ivfpq",
      // round 7 (cont.): basket-pair joins, GlobalRank scoring, explodes
      "q_assoc_rules", "q_rfm", "q_autocorr", "q_pmi_bigrams",
      "q_negative_sample", "q_degree_hist", "q_spearman", "q_mannwhitney",
      "q_pareto", "q_target_encode", "q_attribution",
      "q_zipf", "q_bm25", "q_graph_2hop", "q_cuped",
      "q_auc", "q_lift_deciles", "q_doc_entropy", "q_skew_audit",
      // round 8: eval/imputation/divergence + graph/robust-stats batch
      "q_perplexity", "q_mrr", "q_calibration", "q_js_divergence",
      "q_jaccard_neighbors", "q_theil_sen", "q_churn_label",
      "q_t_closeness", "q_locf_impute",
      // round 7 (cont. 4): corpus-explode collocations, cluster-blocked
      // decontamination, GlobalRank CDF argmax, 12th stream maintainer
      "q_llr_bigrams", "q_decontaminate_embed", "q_ks_model",
      "q_stream_watermark", "q_hapax_ratio",
      // round 9: the Alg-1 multi-iteration trace (4 ALS refits) and the
      // reworked single-fact-pass antidote evaluation
      "q_antidote_trace", "q_antidote_eval",
      // round 12: the ANN escapes for the registry's one cartesian and
      // the panel×corpus evaluation cross
      "q_mf_topk_recs_ann", "q_map_at_k_ann")
    val headQs = results.filter { case (k, _) => headline.contains(k) }
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val short = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$headQs,"sf":"$sfDir","n_queries":${results.size},"queries_full":"target/bench_queries.json","errors":[${errors.mkString(",")}]}"""
    // Stamp the timing regime into the emitted JSON so ratio tooling can
    // refuse to compare maps produced under different regimes (best-of-2
    // threshold, cold vs warm memos, table caching) — cross-regime diffs
    // report spurious speedups/regressions. The regime is fixed now (warm
    // memos, cached tables, best-of-2 under 2.5 s, one repeat); every
    // field stays in the stamp so older maps compare without a regime
    // warning.
    val regime = s"""{"best2_sec":${r3(best2Sec)},"cold":false,""" +
      s""""cache_tables":true,"repeat":1}"""
    val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","regime":$regime,"errors":[${errors.mkString(",")}]}"""
    try {
      // Subset runs (SPARK_GRAFT_ONLY) go to a separate file so they can
      // never clobber the last full-registry map — round 6's full map was
      // superseded by a 6-query subset run and its numbers became
      // unauditable (ADVICE.md).
      val fname = if (only.isEmpty) "bench_queries.json"
                  else "bench_queries_subset.json"
      val p = java.nio.file.Paths.get(s"target/$fname")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // stop() can throw on a wedged executor pool; the JSON lines below are
    // the whole point of the run, so never let shutdown suppress them.
    try spark.stop() catch { case _: Throwable => () }
    // Short line both first and last, full map in between: whatever window
    // of stdout the driver keeps, a complete parseable line survives.
    // Printed after spark.stop() so no executor/log noise can interleave.
    println(short)
    println(full)
    println(short)
    Console.out.flush()
  }
}
