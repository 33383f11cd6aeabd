package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line on stdout (driver contract).
  *
  * Every gate runs to completion through the `noop` sink
  * ([[Harness.materialize]]). Headline set mirrors SURVEY.md §6: the
  * OLAP suite on the scaling tables + the pipeline operators.
  */
object Bench {

  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
    "q6_forecast_revenue", "q_window_running", "q_distinct_users",
    "q_topk_events", "q_time_bucket", "q_sessionize",
    "replacing_merge", "dedup_exact", "ann_bruteforce",
    "text_tokens", "text_quality", "text_langid")

  /** The LLM-pipeline operators the scale mandate centers on — tracked
    * as their own section (round 9) so their wall-clocks have history
    * like the headline set's. Kept OUT of the headline total to keep
    * that number comparable across rounds.
    */
  val pipeline: Seq[String] = Seq(
    "dedup_minhash", "dedup_simhash", "dedup_containment",
    "dedup_ngram_jaccard", "dedup_minhash_verified", "dedup_semantic",
    "dedup_keep_best",
    "text_span_dedup", "text_span_scrub", "text_pii_scrub",
    "mix_domains", "pack_sequences", "ann_ivfpq",
    "pipeline_train_export", "text_bpe_tokens", "docs_chunk",
    // round 10 gates (pipeline_total spans 22 ops from the round-10
    // continuation on; the r9-comparable subset is the per-query
    // history)
    "q_audience_overlap_sketch", "span_stream_flags", "cms_stream_relation",
    "text_lm_score", "q_quantile_merge_portable", "q_sliding_hll", "ann_ivf_dist",
    "ann_ivf2", "pipeline_ccnet_buckets",
    // round 12: the IVF2+PQ serving composition joins the tracked set
    "ann_ivf2pq", "ann_ivfpq_rerank", "ann_sq8", "ann_ivfsq", "ann_range",
    "ann_opq", "ann_ivfopq",
    "ann_mrl",
    // round 14: real multimodal decode + the NB classifier + the
    // edit-distance verifier join the set
    "multimodal_meta", "multimodal_av_meta", "text_nb_classify",
    "dedup_fuzzy", "text_bm25", "dedup_fuzzy_cluster",
    "multimodal_export_manifest",
    // round-14 continuation: PCA projection (ann_hybrid_rrf is
    // tracked in the analytics section)
    "vec_pca_project",
    // round 18 (additions-only, VERDICT r17 #7): the r17 barrier wins
    // get cross-round driver history
    "pipeline_clean", "sample_weighted")

  /** The round-12 ClickHouse-analytics widening — tracked as its own
    * section (same reasoning as `pipeline`: new ops get wall-clock
    * history without moving the cross-round headline total).
    */
  val analytics: Seq[String] = Seq(
    "q_sum_map", "q_max_intersections", "q_interval_union",
    "q_minmax_map", "q_arg_minmax", "q_delta_sum", "q_bounding_ratio",
    "q_linreg", "q_welch_ttest", "q_ks_test", "q_mann_whitney",
    "q_quantile_weighted", "q_geohash",
    "q_sparkbar", "q_exp_decay_avg", "q_lttb", "q_fill_interp",
    "q_cramers_v", "q_sequence_next_node",
    "q_uniq_upto", "q_group_bitmap", "q_point_in_polygon", "q_auc",
    "q_rank_corr", "text_bpe_trained", "q_fill_locf", "q_dict_get",
    "text_readability", "q_nn_derivative", "q_skew_kurt",
    // round-13 statistics completions
    "q_student_ttest", "q_mean_ztest", "q_entropy", "q_theils_u",
    "q_contingency", "q_topk_sketch", "q_topk_weighted",
    "q_cramers_v_bc", "q_covar", "q_bloom_filter", "q_ipv4_funcs",
    "q_interval_join", "q_anova",
    // round-14 additions
    "q_moving_sum", "q_histogram_adaptive", "q_journey_topk",
    "q_attribution", "q_profile", "migrate_incremental",
    "q_multi_linreg", "q_window_suite", "q_corr_matrix",
    "q_stl_decompose", "q_period_detect", "q_info_value",
    "q_group_concat", "q_ttl_expire", "text_dsir",
    // round-14 continuation: theta-sketch algebra, integer PageRank,
    // Holt forecasting, the multi-needle and ngram-distance matchers
    "q_kmv_sketch", "q_pagerank", "q_holt_linear",
    "text_multisearch", "text_ngram_sim", "ann_hybrid_rrf",
    "q_item_cooccur", "q_ab_sample_size", "q_dq_audit",
    "q_cohort_ltv", "q_benford", "q_gini", "q_cuped", "q_did",
    "q_rfm", "text_pmi", "q_holt_winters", "q_cusum", "text_soundex",
    // round 15: the CH dialect adapter gates + the timed matcher
    "q_ch_dialect_limit_by", "q_ch_dialect_array_join",
    "q_ch_dialect_totals", "q_ch_dialect_final", "q_ch_dialect_sample",
    "q_sequence_match_timed",
    // round 16: the lifted ARRAY JOIN refusals + composed FINAL SAMPLE
    "q_ch_dialect_array_zip", "q_ch_dialect_array_shadow",
    "q_ch_dialect_final_sample")

  def main(args: Array[String]): Unit =
    Harness.withSession(spark => println(run(spark, args)))

  /** The timed bench on `SPARK_GRAFT_SF_DIR` (takes no arguments):
    * writes the per-query detail file and returns the stdout line.
    */
  def run(spark: SparkSession, args: Array[String]): String = {
    import Harness.{fmt, json}
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val all = headline ++ pipeline ++ analytics
    Harness.warm(spark, all)

    // min of 5 interleaved passes. Two passes proved not enough (r03:
    // dedup_exact 17.4s vs 1.9s in r02, same code — a burst spanning
    // both passes). Round 7 calibration: three whole-bench invocations
    // of ONE jar spanned 11.5-13.6 s total (±18%, every query moving
    // together — host throughput, not plans), so three passes still
    // let a slow window inflate a round's number; five passes cost
    // ~25 s more and tighten the min.
    val mins = Harness.minOfN(spark, all, sfDir, passes = 5, tag = "bench").toMap
    def minOf(names: Seq[String]): Seq[(String, Double)] = names.map(n => n -> mins(n))
    val results = minOf(headline)
    val pipeResults = minOf(pipeline)
    val anResults = minOf(analytics)
    val total = fmt(results.map(_._2).filter(_ >= 0).sum)
    val pipeTotal = fmt(pipeResults.map(_._2).filter(_ >= 0).sum)
    val anTotal = fmt(anResults.map(_._2).filter(_ >= 0).sum)
    // Full per-query detail goes to a FILE (the per-query cross-round
    // history the judge reads); stdout carries a compact line that fits
    // the driver's bounded tail capture — BENCH_r13.json lost the head
    // of the 2.4 KB detail line to exactly that bound (parsed: null).
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","queries":${json(results)},"pipeline":${json(pipeResults)},"pipeline_total":$pipeTotal,"analytics":${json(anResults)},"analytics_total":$anTotal,"sf":"$sfDir"}"""
    try {
      val p = java.nio.file.Paths.get("tools/bench_detail_latest.json")
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, detail.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    s"""{"metric":"total","value":$total,"unit":"sec","queries":${json(results)},"pipeline_total":$pipeTotal,"analytics_total":$anTotal,"sf":"$sfDir","detail":"tools/bench_detail_latest.json"}"""
  }
}
