package graft

/** SQL-frontend parity: the ANSI oracle statements for the relational
  * query set run unchanged through `spark.sql` and must produce exactly
  * the DataFrame formulation's rows. A user can address this engine in
  * plain SQL (views registered by `Tables.registerAll`) or through the
  * typed API and get identical results — the two entries share Catalyst,
  * so this pins the whole parse→analyze→optimize path, not a re-test of
  * the operators. (Oracles using DuckDB-only constructs are exercised
  * against DuckDB by the driver instead.)
  */
class SqlParitySpec extends SparkSuite {

  /** Every oracle whose SQL text runs UNCHANGED on spark.sql (with the
    * [[graft.functions.SqlCompat]] DuckDB-dialect alias pack
    * registered) with row-identical results — probed exhaustively by
    * `graft.Dev parity`, 333 of 352 as of round 14 (259 → 314 → 332 → 333
    * with r14's hfp_load_tlp pinning on first probe, none
    * lost; the KV rewrite and the round's 16 new statements — trace,
    * reward, MoE and distillation waves — all pin
    * directly, and de-materializing the two mm joint-dedup oracles —
    * the live DuckDB CSEs their triple-referenced CTE well enough that
    * the DuckDB-only AS MATERIALIZED keyword was no longer paying for
    * its parse failure on Spark — moved those onto the list). THIS
    * LIST IS NOW DECLARED FINAL (r12 verdict item 5): every remaining
    * exclusion carries a named engine-feature gap below, and no
    * further parity spend is planned. The round-12 seams, in the order
    * they fell:
    *
    *  - QUALIFY (7 statements) — pure sugar over a ranked subquery;
    *    the oracles now spell the portable ANSI nested-select form.
    *  - aggregate-ORDER-BY DETERMINISM folds (q_chi2_independence,
    *    q_domain_reweight, q_mixture_temperature, q_bradley_terry) —
    *    the order-pinned double sums now fold the VALUE-sorted term
    *    list (`list_aggregate(list_sort(array_agg(term)), 'sum')`),
    *    equally deterministic (the order is the summands themselves)
    *    and parseable on both engines; the DataFrame sides moved to
    *    the matching `sort_array(collect_list(term))` fold. Where the
    *    sort key IS the aggregated value (ta_inverted_index postings,
    *    q_agg_misc statuses), plain `list_sort(array_agg(x))` is the
    *    ordered aggregation itself.
    *  - aggregate-ORDER-BY SEMANTIC folds (the cdc/span chains, the
    *    kmeans/IVF centroid assemblies) — rebuilt by sorting
    *    pos-PREFIXED encodings (`lpad(pos)||':'||payload`, strip after
    *    sort); the unique prefix carries the order, and the
    *    double↔string round trip is lossless on both engines. The same
    *    encoding replaces dd_chunk_ledger's `min(ROW(...))` +
    *    positional access (fixed-width lpad concat IS the struct
    *    order).
    *  - correlated lateral / ZIPPED double-unnest fan-outs
    *    (q_grad_noise_scale, kmeans family, ann_sq8, q_posexplode,
    *    q_span_corrupt, dd_span_removal) — a max-bound
    *    `generate_series` CTE cross join filtered by `len(list)`,
    *    with `list_extract` at the index.
    *  - dialect session settings, applied via SqlCompat's scoped
    *    withDialectSession (set + restore around the oracle text only —
    *    implicit session-wide flips contradicted the temp-function
    *    contract, ADVICE r12):
    *    RAW string literals (Spark's default unescapes '\s' to 's',
    *    silently mangling every regex in a shared statement — fixed
    *    ta_tokens/q_regexp_funcs/q_encode_funcs and the url/code_detect
    *    patterns), double-quoted identifiers (q_pivot's "1-URGENT"),
    *    unchunked base64, and a raised recursion row cap.
    *  - alias fixes: list_sort 'ASC'/'DESC'; 1-arg range(n);
    *    list_extract now NULLs out-of-range AND index-0 like DuckDB
    *    (ta_bpe_train); new list_concat / list_position (NULL-if-absent)
    *    / list_prepend / list_reduce-over-prepended-init (the exact
    *    aggregate(l, init, f) composition, ta_fingerprint).
    *  - day-count arithmetic — `divide(epoch_ms(...), 86400000)` for
    *    epoch days, `(days + 4) % 7` for DuckDB's Sunday-0 dayofweek,
    *    epoch-ms differences for week counts (a date_diff ALIAS is
    *    impossible: Spark resolves builtin names before temp
    *    functions — probed empirically).
    *
    * (History: round 11 reached 259 via the PortableHash decimal
    * digit-fold rendering and the `array_slice` respelling; round 9
    * built the dialect bridge — `divide()`, polymorphic `epoch_ms`,
    * literal `strftime`; round 10 moved the `s[1]`-subscript families
    * onto `generate_series`/`list_extract`.)
    * The remaining 19 stay off for reasons the pack deliberately does
    * not paper over — FINAL, each named to its engine-feature gap:
    * recursive-CTE UNION-dedup semantics (dd_canonical,
    * dd_components, dd_keep_best, q_curation_funnel, q_dbscan_grid,
    * q_survivorship — Spark recursion is UNION ALL only) and
    * ta_wordpiece's diverging recursion row semantics; DuckDB HUGEINT
    * arithmetic (the KMV family: q_approx_distinct_kmv, q_kmv_set_ops,
    * q_join_size_est, plus q_ols — no 128-bit integer type on Spark);
    * AS MATERIALIZED multi-referenced CTEs, now the PCA family ONLY
    * (q_pca_power/q_pca_project/q_pca_deflate — every power-iteration
    * round references the whole v-chain, so unmaterialized DuckDB
    * re-inlines the tree exponentially, measured >120 s vs 0.12 s at
    * sf0.01, and the keyword does not parse on Spark; the mm joint
    * pair LEFT this class in r13 — the live DuckDB CSEs their
    * triple-referenced CTE at ~1.4× the materialized cost, so the
    * keyword was dropped and both now pin); DuckDB's native ASOF JOIN (q_asof_join /
    * q_asof_native — the POINT is validating our custom operator
    * against DuckDB's independent native one); and statements whose
    * POINT is the unbridgeable form itself (q_explode /
    * q_posexplode-style zipped unnest in q_explode, raw bracket
    * subscripts in q_array_funcs, ta_rake's zipped unnest + semantic
    * phrase order) — all exercised against DuckDB by the driver
    * instead.
    */
  private val ansiOracles = Seq(
    "ann_brute", "ann_centroid_filter", "ann_ivf", "ann_ivf_pq",
    "ann_ivf_trained", "ann_knn_join", "ann_matryoshka", "ann_maxsim",
    "ann_ndcg", "ann_pq", "ann_range_search", "ann_recall_curve",
    "ann_recall_eval", "ann_sq8", "dd_bag_dedup", "dd_chunk_ledger",
    "dd_containment", "dd_cosine_lsh", "dd_edit_distance", "dd_embed_cosine",
    "dd_exact", "dd_incremental", "dd_minhash_lsh", "dd_ngram_jaccard",
    "dd_prefix_dup", "dd_semantic", "dd_simhash", "dd_span_removal",
    "dd_substring", "dd_supershingle", "dd_threshold_curve", "dd_url_dedup",
    "dd_winnowing", "hfp_cast", "hfp_dedup_anti", "hfp_dedup_bloom",
    "hfp_dedup_within", "hfp_geo_cells", "hfp_load_day", "hfp_load_tlp",
    "hfp_pipeline",
    "hfp_route", "hfp_union", "kmeans_train", "mm_audio_fingerprint",
    "mm_audio_vad", "mm_binary_stats", "mm_clip_filter", "mm_crop_jitter",
    "mm_decode_features", "mm_exif_quarantine", "mm_frame_sample", "mm_keyframes",
    "mm_cross_contam", "mm_joint_dedup",
    "mm_mfcc", "mm_modality_route", "mm_patchify", "mm_phash_buckets",
    "mm_resize", "mm_scene_split", "q10_returned_items", "q11_important_parts",
    "q12_priority_conditional", "q13_order_dist", "q14_promo_ratio", "q15_top_supplier",
    "q16_supplier_counts", "q17_small_qty_revenue", "q18_large_orders", "q19_disjunctive_pred",
    "q1_pricing_summary", "q20_promo_suppliers", "q21_late_suppliers", "q22_high_balance",
    "q2_min_cost_supplier", "q2_topk_orders", "q3_shipping_priority", "q4_priority_exists",
    "q5_region_revenue", "q6_selective_agg", "q7_bi_nation_volume", "q8_market_share",
    "q9_product_profit", "q_ab_srm", "q_ab_test", "q_active_learning_margin",
    "q_agg_misc", "q_als_step", "q_anomaly_zscore", "q_anti_join",
    "q_array_advanced", "q_assoc_rules", "q_attribution", "q_auc",
    "q_autocorr", "q_benford", "q_best_of_2", "q_bfs_dist",
    "q_bitwise_funcs", "q_bloom_skip", "q_bon_overopt", "q_bootstrap_ci",
    "q_bradley_terry",
    "q_brier_score", "q_bucketed_join", "q_cache_ttl_curve", "q_calibration",
    "q_cdc_chunks", "q_changepoint", "q_chi2_independence", "q_class_balance",
    "q_clustering_coeff", "q_cms_heavy", "q_cochran_q", "q_cohen_kappa",
    "q_cohort", "q_compaction_plan", "q_cond_funcs", "q_confusion_stats",
    "q_context_chunks", "q_cross_join", "q_cube", "q_curriculum",
    "q_data_card", "q_date_funcs", "q_decay_agg", "q_dedup_keep_latest",
    "q_delta_encoding", "q_distill_agree", "q_distill_mine",
    "q_distill_temp_curve",
    "q_distinct_agg", "q_doc_packing", "q_domain_cap",
    "q_domain_mix", "q_domain_reweight", "q_dp_counts", "q_dq_checks",
    "q_draft_length_curve", "q_embedding_center", "q_empty_agg", "q_encode_funcs",
    "q_entity_resolve", "q_entropy", "q_equidepth_bucketize", "q_ess",
    "q_ewma", "q_feature_hash", "q_feature_quantiles", "q_fleiss_kappa",
    "q_forecast_snaive", "q_forget_user", "q_full_outer_join", "q_funnel",
    "q_gae", "q_gap_fill", "q_gd_train", "q_geo_speed",
    "q_geo_trajectory", "q_geomean", "q_gini", "q_global_shuffle",
    "q_grad_noise_scale", "q_group_sample", "q_grouped_topk", "q_grouping_sets",
    "q_hard_negatives", "q_hash_sample", "q_having", "q_hist_quantiles",
    "q_histogram", "q_hll_distinct", "q_ht_estimate", "q_hybrid_rrf",
    "q_in_subquery", "q_incr_agg", "q_incr_join", "q_interval_arith",
    "q_item_cf", "q_json_funcs", "q_judge_position_bias", "q_k_anonymity",
    "q_kcore",
    "q_knn_classify", "q_knn_ivf", "q_krippendorff", "q_kv_depth_profile",
    "q_kv_prefix_reuse", "q_l_diversity", "q_label_prop", "q_lateral_topn",
    "q_length_buckets", "q_length_debiased_winrate", "q_link_predict",
    "q_loop_detect", "q_mad_outlier",
    "q_map_at_k", "q_map_struct_funcs", "q_math_extended", "q_math_funcs",
    "q_mcnemar", "q_merge_upsert", "q_mixture_temperature", "q_mmr_select",
    "q_modularity", "q_moe_capacity_drops", "q_moe_load_balance",
    "q_moe_routing_churn",
    "q_mrr", "q_mutual_information", "q_nearest_stop",
    "q_negative_sampling", "q_ngram_overlap", "q_not_in_subquery", "q_ohlc",
    "q_outlier_trim", "q_pad_waste", "q_pagerank", "q_pass_at_k",
    "q_path_transitions", "q_percentiles", "q_pivot", "q_posexplode",
    "q_power_analysis", "q_pref_pairs", "q_pref_transitivity", "q_profile",
    "q_psi",
    "q_quantile_norm", "q_range_join", "q_range_native", "q_regexp_funcs",
    "q_reservoir_sample", "q_reward_length_slope", "q_rfm", "q_rollup",
    "q_router_frontier",
    "q_running_distinct", "q_salted_agg", "q_salted_join", "q_scalar_subquery",
    "q_scd2", "q_seasonal_profile", "q_semi_join", "q_seq_mining",
    "q_seq_pack", "q_sessionize", "q_set_except", "q_set_intersect",
    "q_shard_plan", "q_skew_profile", "q_skyline", "q_snapshot_diff",
    "q_span_corrupt", "q_spatial_join", "q_spec_decode_accept", "q_split_leakage",
    "q_sssp", "q_stats_agg", "q_step_kl", "q_stratified_kfold",
    "q_stratified_sample",
    "q_string_advanced", "q_string_funcs", "q_survival", "q_synth_sample",
    "q_tail_index", "q_target_encode", "q_temperature_scale", "q_theil_sen",
    "q_token_budget", "q_tool_errors", "q_top_p_cutoff", "q_trace_credit",
    "q_trace_funnel", "q_traj_collapse", "q_train_split", "q_triangle_count",
    "q_trig_funcs", "q_tumbling_window", "q_typed_agg", "q_typed_cogroup",
    "q_ucb_bandit", "q_union_distinct", "q_unpivot", "q_url_funcs",
    "q_values_lookup", "q_vocab_growth", "q_weighted_sample", "q_window_dist",
    "q_window_first_last", "q_window_frame", "q_window_lag", "q_window_range_frame",
    "q_window_rank", "q_winsorize", "q_zipf_fit", "q_zone_map",
    "q_zorder", "ta_bm25", "ta_bpe", "ta_bpe_train",
    "ta_cluster_topics", "ta_code_detect", "ta_collocations", "ta_contamination",
    "ta_dsir", "ta_fingerprint", "ta_gopher_rules", "ta_heavy_hitters",
    "ta_inverted_index", "ta_ks_test", "ta_langid", "ta_langid_profile",
    "ta_nb_langid", "ta_ngram_lm", "ta_novelty", "ta_oov_rate",
    "ta_perplexity_bucket", "ta_pii_scrub", "ta_pipeline", "ta_quality",
    "ta_quality_lr", "ta_readability", "ta_repetition", "ta_sentiment",
    "ta_stem", "ta_textrank", "ta_tfidf", "ta_tfidf_cosine",
    "ta_tokens", "ta_wasserstein")

  test("ANSI oracle SQL runs on spark.sql with identical results") {
    val s = sc
    graft.sources.Tables.registerAll(s, sfDir)
    graft.functions.SqlCompat.register(s)
    val failures = ansiOracles.flatMap { name =>
      try {
        // the oracle text parses under the DuckDB dialect settings,
        // SCOPED (set + restore) so the shared test session keeps stock
        // Spark parsing for every other suite (ADVICE r12); the
        // DataFrame twin runs outside the scope, as in Verify
        val viaSql = graft.functions.SqlCompat.withDialectSession(s)(
          s.sql(SparkEntry.oracleSql(name)).collect().toSeq)
        val viaDf = SparkEntry.queries(name)(s, sfDir).collect().toSeq
        if (viaSql == viaDf) None else Some(s"$name: rows differ (${viaSql.size} vs ${viaDf.size})")
      } catch { case e: Exception => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
