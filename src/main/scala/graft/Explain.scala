package graft

import java.nio.file.{Files, Paths}

/** Plan-audit artifact generator: dumps `explain("formatted")` for the
  * headline queries to docs/EXPLAINS.md so plan shape (pushdown, pruned
  * schemas, broadcast vs shuffle joins, TakeOrderedAndProject, codegen
  * stages) is reviewable without running anything.
  *
  * Usage: sbt "runMain graft.Explain [sfDir] [outFile]"
  */
object Explain {

  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q02_filter_pushdown", "q03_top_orders_by_revenue",
    "q04_semi_join_orders", "q06_region_acctbal", "q07_topk_per_customer",
    "q09_top_events_by_value", "q17_small_quantity_revenue", "q20_quantiles",
    "jx_asof_join", "jx_range_join", "rag_topk_documents",
    "dd_minhash_lsh", "dd_ngram_jaccard", "dd_simhash_pairs",
    "dd_embedding_neardup", "sim_cosine_topk", "sim_ivf_ann",
    "ta_quality_score", "ts_user_similarity", "ev_session_window",
    "ev_session_window_native", "pl_corpus_curation", "rag_tfidf_topk", "ts_resample_ffill", "q29_full_outer",
    "cl_commit_log", "ev_funnel", "ev_retention", "ev_user_paths",
    "jx_salted_join", "pl_chunking", "pl_mixture", "gx_pagerank",
    "gx_triangles", "gx_degree_hist", "sk_bloom", "sk_countmin",
    "ts_ewma", "ev_markov", "pl_packing", "q30_subqueries",
    "ta_readability", "ta_collocations", "sim_ann_recall",
    "sim_ivf_recall", "ts_autocorr", "sk_bottomk", "ev_session_stats",
    "ts_user_similarity_lsh", "pl_decontaminate", "pl_stratified_sample",
    "q31_lateral", "q32_recursive_cte", "sim_label_knn",
    "ta_bpe_merges", "ev_winsorize", "pl_curation_v2",
    "rag_inverted_index", "rag_phrase_search", "dd_containment",
    "pl_token_budget", "sk_bloom_join", "ev_session_dynamic",
    "pl_boilerplate", "ta_vocab_coverage", "dd_embedding_neardup_ivf",
    "dd_embedding_neardup_recall", "sk_heavy_hitters", "dd_dup_clusters",
    "ta_bpe_apply", "dd_incremental", "q33_column_profile",
    "ta_unigram_surprisal", "ta_repetition", "dd_source_overlap",
    "pl_curation_v3", "sk_approx_quantiles", "rag_bm25_topk",
    "gx_louvain", "gx_louvain2", "dq_mmd_drift", "ev_poisson_bootstrap",
    "ev_mann_whitney", "pl_bandit_mixture", "mm_jpeg_decode",
    "ta_pii_redaction", "pl_quality_model", "pl_dedup_keep_best",
    "gx_cc", "ev_attribution", "ta_freq_spectrum", "ev_histogram",
    "gx_bfs", "dd_ngram_novelty", "gx_kcore", "q34_map_funcs", "pl_epoch_shuffle",
    "pl_paragraph_dedup", "ts_cross_corr", "sk_hll_intersect", "ts_seasonality", "q35_corrupt_json", "mm_batch_infer", "q36_filter_agg", "pl_dataset_card", "ev_lifecycle", "dd_lsh_tuning", "ev_forecast_naive", "pl_balanced_sample",
    "ev_stickiness", "ev_rfm", "dd_dup_rate", "q37_csv_roundtrip", "q38_orc_roundtrip",
    "gx_common_neighbors", "ev_whale_curve", "sim_pq_recall", "sim_sq8_recall", "gx_lpa", "dq_integrity", "gx_resource_alloc", "ts_cusum", "sim_fps_diversity", "rag_mmr", "gx_modularity", "pl_importance_sample", "ts_linear_interp", "ta_bigram_predict", "gx_assortativity", "ta_keywords_tfidf",
    "gx_jaccard_linkpred", "ev_lifetable", "ev_cohort_ltv",
    "ev_interval_merge", "ta_hellinger_drift", "ts_decompose",
    "pl_zorder_layout", "pl_ingest_admission", "rag_rrf_fusion",
    "gx_closeness", "gx_hits", "q39_variant_props", "ts_stl_anomaly",
    "gx_clustering_coeff", "ta_token_entropy", "ta_zipf_slope",
    "ts_holt_linear", "ts_theil_sen", "pl_filter_funnel", "pl_curriculum",
    "q40_market_share", "q41_promo_revenue", "sim_knn_graph",
    "dd_cdc_chunks", "ts_changepoint", "ev_gini", "pl_priority_sample",
    "gx_ktruss", "ts_mann_kendall", "ev_entropy_rate",
    "sim_knn_graph_ivf", "sim_knn_graph_recall", "ev_value_bands",
    "ev_session_funnel", "ta_heaps_law", "ev_conversion_lag",
    "ts_spectral_peak", "ev_anomaly_mad", "ta_code_detect",
    "pl_mixture_temperature", "q42_top_supplier", "q43_returned_revenue",
    "gx_rich_club", "ev_diversity_simpson",
    "q52_product_profit", "q54_min_cost_supplier", "q56_part_promotion",
    "ev_srm", "ts_ar2", "pl_ppl_filter", "ta_textrank", "ts_granger",
    "dq_expectations", "ev_scd2_intervals", "ts_backtest",
    "jx_interval_overlap", "pl_split_leakage",
    "ev_rolling_distinct", "ev_rolling_distinct_hll",
    // r10: the exact-substring span family + the degenerate-guarded RDD
    "pl_decontam_spans", "pl_decontam_scrub", "dd_exact_substr",
    "sim_jl_recall", "ev_reg_discontinuity",
    // r11: the semantic decontamination audit + the adaptive-modulus
    // triangle twin (broadcast wedge closure must show in both)
    "pl_decontam_semantic", "gx_triangles_adaptive",
    // r13: the adaptive-modulus truss twin (broadcast wedge closure +
    // scale-adaptive node space must both show)
    "gx_ktruss_adaptive")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("docs/EXPLAINS.md")
    // Subset + per-query-file mode for before/after plan artifacts
    // (plans/r<N>/<query>_{before,after}.txt): SPARK_GRAFT_ONLY selects
    // queries (any name in SparkEntry.queries, not just the headline
    // list; an unknown name is an error); SPARK_GRAFT_EXPLAIN_DIR +
    // _SUFFIX write one file per query instead of the aggregate markdown.
    val names = EngineSession.only().getOrElse(headline)
    val perQueryDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "")
    val spark = EngineSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb ++= "# Physical plans (generated by `graft.Explain`)\n\n"
    sb ++= s"Scale dir: `$sfDir`. Things to check per plan: `PushedFilters` on the\n"
    sb ++= "scan, pruned `ReadSchema`, `BroadcastHashJoin` on dimension joins,\n"
    sb ++= "`TakeOrderedAndProject` for top-k, and wide whole-stage-codegen spans.\n"
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      perQueryDir match {
        case Some(dir) =>
          val p = Paths.get(dir)
          Files.createDirectories(p)
          Files.writeString(p.resolve(s"$name$suffix.txt"), plan)
        case None => sb ++= s"\n## $name\n\n```\n$plan```\n"
      }
    }
    if (perQueryDir.isEmpty) {
      Files.createDirectories(Paths.get(outFile).getParent)
      Files.writeString(Paths.get(outFile), sb.toString)
    }
    println(s"wrote ${perQueryDir.getOrElse(outFile)} (${names.length} plans)")
    spark.stop()
  }
}
