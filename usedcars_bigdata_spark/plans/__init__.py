from .registry import ORACLES, QUERIES, query

# Import modules for their registration side effects.
from . import queries as _queries  # noqa: E402,F401
from . import extensions as _extensions  # noqa: E402,F401
from . import vehicles as _vehicles  # noqa: E402,F401
from . import tpch as _tpch  # noqa: E402,F401
from . import evalqs as _evalqs  # noqa: E402,F401
from . import statsq as _statsq  # noqa: E402,F401

# The driver harness sweeps the FIRST 50 entries of queries() in dict order
# (observed in round 1: CORRECTNESS_r01.json held exactly the first 50
# registrations). Registration order follows module/source layout, which is
# not a priority order — so re-key both dicts here.
#
# ROUND-11 ROTATION (queued at round-10 close, executed as written plus
# the VERDICT-directed flagship front-load documented inline): pin ONLY
# the 12 ref_* parity rows; the other 38 window slots take the head of
# the never-driver-verified queue with ext_dedup_minhash_md5 and
# ext_dedup_simhash promoted to the front per r10 VERDICT item 7. After
# round 10's 50/50-green sweep the backlog stood at 55; this window takes
# 38 (-> 17 remaining), round 12 takes the rest and empties the backlog.
# Every rotated-out entry keeps pytest + full-registry dtype-checked
# scripts/audit.py coverage meanwhile.
#
# CONTRACT_WINDOW_ROUND is the round the current window was queued for. The
# rotation ledger checks the window against the driver rows of the rounds
# BEFORE it, so committing that round's (or a later) CORRECTNESS file does
# not change the verdict; bump it together with the window at each rotation.
CONTRACT_WINDOW_ROUND = 12

_CONTRACT_PRIORITY = [
    "ref_q1_avg_price_by_priority",
    "ref_q2_median_value_by_type",
    "ref_q3_pct_of_total",
    "ref_regexp_extract_ids",
    "ref_like_not_filter",
    "ref_category_native",
    "ref_when_chain_groups",
    "ref_age_price",
    "ref_range_inlist_filter",
    "ref_dedup_deterministic",
    "ref_skewness_transforms",
    "ref_summary_stats",
    # --- ROUND-12 ROTATION (executed as the FIRST action of round 12
    # per r11 VERDICT item 1, then amended mid-round: the three r12
    # operator additions (rel_grouped_running_sum,
    # ts_stream_anomaly_scalable, ts_sessionize_scalable) are oracle-
    # backed and never-verified, so the ledger policy pulls them into
    # the window, displacing the three FRESHEST re-verification fills.
    # Slots 13-32: the full never-driver-verified oracle-backed
    # backlog — after this sweep every oracle-backed entry has an
    # official driver row. ---
    "ml_cohens_kappa",  # never-verified queue
    "rows_stream_holt_winters",  # never-verified queue
    "rows_fpgrowth_itemsets",  # never-verified queue
    "rows_prefixspan_patterns",  # never-verified queue
    "rows_mmr_diverse_topk",  # never-verified queue
    "rel_zorder_layout",  # never-verified queue
    "rows_image_near_dupes",  # never-verified queue
    "ext_text_langid",  # never-verified queue
    "ext_doc_fingerprint",  # never-verified queue
    "ext_audio_frame_features",  # never-verified queue
    "ext_curation_v2",  # never-verified queue
    "rel_csv_roundtrip",  # never-verified queue
    "rel_csv_permissive",  # never-verified queue
    "rel_projection_pipeline",  # never-verified queue
    "rel_seeded_split_invariants",  # never-verified queue
    "rel_collection_dim_join",  # never-verified queue
    "rel_driver_fetch_topk",  # never-verified queue
    "rel_grouped_running_sum",  # never-verified queue
    "ts_stream_anomaly_scalable",  # never-verified queue
    "ts_sessionize_scalable",  # never-verified queue
    # --- Remaining slots: the re-verification rotation (r11 VERDICT
    # item 6) — the OLDEST driver-verified oracle-backed rows by
    # (last-verified round, registry order); derivation enforced by
    # scripts/rotation_ledger.py and tests/test_contract_surface.py. ---
    "rel_rank_fractions",  # re-verify (last r1)
    "rel_first_last_window",  # re-verify (last r1)
    "rel_string_funcs",  # re-verify (last r1)
    "rel_null_semantics",  # re-verify (last r1)
    "rel_date_funcs",  # re-verify (last r1)
    "rel_json_extract",  # re-verify (last r2)
    "rel_tpch_q1_pricing_summary",  # re-verify (last r2)
    "rel_join_revenue_by_nation",  # re-verify (last r2)
    "rel_tpch_q3_shipping_priority",  # re-verify (last r2)
    "rel_tpch_q5_local_volume",  # re-verify (last r2)
    "rel_semi_join_customers",  # re-verify (last r2)
    "rel_anti_join_customers",  # re-verify (last r2)
    "rel_top_parts_by_revenue",  # re-verify (last r2)
    "rel_salted_join",  # re-verify (last r2)
    "rel_window_rank_orders",  # re-verify (last r2)
    "rel_topk_per_group",  # re-verify (last r2)
    "rel_selectexpr_agg",  # re-verify (last r2)
    "rel_bucketed_counts",  # re-verify (last r2)
    # --- driver's 50-entry sweep window ends here ---
    # Remaining entries keep their prior relative order; all retain
    # pytest + full-registry scripts/audit.py replay coverage between
    # official driver rows.
    "rel_rollup_year_priority",
    "rel_pivot_status",
    "rel_unpivot_measures",
    "ext_dedup_minhash_md5",
    "ext_dedup_simhash",
    "ml_gini_feature_rank",
    "rel_simpson_diversity",
    "ts_ljung_box",
    "rel_zonemap_prune_audit",
    "ext_audio_vad_segments",
    "rel_kmv_set_ops",
    "ext_code_prose_detect",
    "ml_pinball_loss",
    "rel_bitemporal_asof",
    "rel_table_checksum",
    "ts_hurst_exponent",
    "ml_mutual_info_rank",
    "ts_haar_energy",
    "ts_ar2_fit",
    "ts_changepoint_binseg",
    "rel_t_closeness",
    "ext_quality_rule_overlap",
    "ts_stream_kmv",
    "rel_graph_bfs_layers",
    "ml_class_balance",
    "ml_mrmr_rank",
    "ts_runs_test",
    "ts_turning_points",
    "ext_span_corruption",
    "ext_coverage_select",
    "ts_pattern_vshape",
    "ts_did_estimator",
    "rel_inclusion_deps",
    "rel_bucketed_join",
    "ts_markov_entropy",
    "ts_slo_burn_alerts",
    "rel_join_cardinality_audit",
    "ext_fs_em_weights",
    "ts_stream_left_outer",
    "ts_ewma_smooth",
    "ts_purged_splits",
    "rows_stream_late_drops",
    "ext_ann_ivfpq_topk",
    "rel_hll_sketch_rollup",
    "rows_als_recommendations",
    "rows_word2vec_synonyms",
    "rows_stream_near_dup",
    "rows_quality_calibration",
    "rows_markov_attribution",
    "rel_freq_items",
    "rel_approx_count_distinct",
    "rows_approx_stats",
    "rows_ml_regression_metrics",
    "rows_ml_kmeans_clusters",
    "rows_bernoulli_sample",
    "rows_monotonic_index",
    "rows_ml_quality_classifier",
    "ext_dedup_minhash_lsh",
    "ext_ann_lsh_topk",
    "ext_ann_ivf_topk",
    "rows_stratified_sample",
    "ext_semantic_dedup",
    "ext_embedding_pca",
    "ext_quality_percentile_approx",
    "ext_bpe_merges",
    "ext_bpe_tokenize",
    "veh_manufacturer_stats",
    "veh_state_median",
    "veh_salvage_pct",
    "veh_dealer_categories",
    "veh_clean_summary",
    "veh_recommend",
    "ext_ann_pq_topk",
    "ts_stl_strength",
    "ts_ab_srm",
    "ts_resample_locf",
    "rel_compaction_plan",
    "ext_vocab_coverage_curve",
    "ts_max_drawdown",
    "ml_residual_diagnostics",
    "ts_current_streaks",
    "rel_weighted_median",
    "rel_hhi_concentration",
    "ts_atypical_users",
    "rel_group_mean_impute",
    "ts_mix_shift_tv",
    "ml_brier_decomposition",
    "ts_ingestion_order_audit",
    "rel_spearman_corr",
    "ts_mann_whitney",
    "ts_kendall_tau",
    "ts_acf_lags",
    "ml_ndcg_mrr",
    "rel_ddsketch_quantiles",
    "rel_graph_kcore",
    "ts_hits_scores",
    "ext_rouge_recall",
    "ts_permutation_test",
    "rel_kruskal_wallis",
    "ts_jarque_bera",
    "rel_link_prediction_ra",
    "rel_graph_assortativity",
    "rel_bloom_join_prune",
    "ml_naive_bayes",
    "ts_periodogram",
    "ts_rolling_corr",
    "ml_map_at_k",
    "ext_flesch_readability",
    "ts_stream_topk",
    "ext_video_shot_cuts",
    "ml_nb_metrics",
    "ext_prefix_filter_jaccard",
    "ext_matryoshka_recall",
    "rel_neyman_allocation",
    "rel_golden_record",
    "ext_doremi_reweight",
    "rel_median_ci",
    "ts_rate_limit_tokens",
    "rel_correlation_matrix",
    "ml_learning_curve",
    "ml_conformal_intervals",
    "ts_shapley_attribution",
    "ts_theil_sen_trend",
    "ml_loso_influence",
    "ts_decayed_topk",
    "rel_l_diversity",
    "ext_source_centroid_sim",
    "ts_stream_rate_limit",
    "rel_salted_agg",
    "ts_interval_union_time",
    "ts_backtest_snaive",
    "rel_share_of_parent",
    "rel_tail_contribution",
    "rel_graph_period_diff",
    "ts_local_peaks",
    "ts_hourly_percentile_bands",
    "ts_semi_additive_monthly",
    "ts_growth_accounting",
    "ext_dupgraph_transitivity",
    "rel_fulfillment_latency",
    "ext_doc_novelty",
    "ts_retention_halflife",
    "rel_rank_movers",
    "ml_loco_importance",
    "ml_pr_auc",
    "ml_best_f1_threshold",
    "ts_velocity_features",
    "ml_ece",
    "ml_kfold_cv",
    "ts_logrank_test",
    "ts_conversion_wilson",
    "ts_two_proportion_test",
    "ts_cohort_ltv",
    "rel_skyline_pareto",
    "rel_association_rules",
    "ts_interpolate_linear",
    "ts_seasonal_baseline",
    "rel_k_anonymity",
    "rel_max_by_lookup",
    "ts_cusum_changepoints",
    "rel_kmv_sketch",
    "ts_survival_km",
    "rel_dq_expectations",
    "rel_scd2_pointlookup",
    "rel_winsorized_stats",
    "ext_unigram_logprob",
    "ext_er_blocking_pairs",
    "ext_er_entities",
    "ext_pmi_cooccurrence",
    "ext_split_lm_gate",
    "ext_crosssplit_decontamination",
    "ext_dedup_quality_survivor",
    "ext_token_budget_sample",
    "ext_corpus_card",
    "ml_roc_auc",
    "ml_ks_statistic",
    "ml_calibration_bins",
    "ml_lift_deciles",
    "ml_target_encoding",
    "ml_categorical_assoc",
    "rel_triangle_stats",
    "rel_common_neighbors",
    "ts_lead_lag_xcorr",
    "ts_seasonality_anova",
    "rel_feature_drift_ks",
    "ext_vocab_saturation",
    "ext_fs_match_scores",
    "rel_benford_digits",
    "rel_rfm_segments",
    "rel_abc_analysis",
    "rel_copurchase_pairs",
    "rel_orc_roundtrip",
    "rel_pagerank_copurchase",
    "rel_fk_audit",
    "rel_psi_drift",
    "rel_topk_with_ties",
    "rel_chi_square",
    "rel_gini_revenue",
    "ts_user_entropy",
    "rel_incremental_agg",
    "rel_dynamic_partition_overwrite",
    "rel_nth_value_window",
    "ts_session_conversion",
    "ts_time_to_convert",
    "rel_try_ansi_safety",
    "rel_map_roundtrip",
    "rel_percentile_disc",
    "rel_pivot_multi_agg",
    "ts_holt_trend",
    "ts_stream_upsert_sink",
    "rel_cms_sketch",
    "ts_attribution_models",
    "ext_quantile_normalize",
    "ext_hard_negatives",
    "rel_textfile_logparse",
    "ts_ab_cuped",
    "rel_dp_noisy_counts",
    "ext_stratified_split",
    "ts_clamped_balance",
    "ts_gone_silent",
    "rel_grouped_ols",
    "ext_er_sorted_neighborhood",
    "ts_holt_winters",
    "ts_hw_forecast",
    "ts_hw_anomalies",
    "ml_indexed_feature_hist",
    "ext_dsir_weights",
    "ext_bm25_topk",
    "ts_top_paths",
    "rel_key_skew_profile",
    "rel_variant_json",
    "ts_stream_sessionize",
    "rel_geo_grid_density",
    "rel_geo_radius_join",
    "ts_bootstrap_ci",
    "ts_sprt_decision",
    "rel_label_propagation",
    "ts_funnel_windowed",
    "rel_fifo_cost_basis",
    "rel_histogram_quantiles",
    "ext_incremental_dedup",
    "ext_embedding_outliers",
    "rel_asof_nearest",
    "ts_power_sample_size",
    "ts_seasonal_anomalies",
    "ext_dedup_threshold_curve",
    "ext_edit_distance_pairs",
    "ext_overlap_containment",
    "ts_ohlc_hourly",
    "rel_recursive_cte",
    "rel_lateral_topk",
    "rel_python_udtf",
    "ext_video_frame_sample",
    "rel_scd2_merge",
    "rel_profile_table",
    "ext_line_dedup",
    "rel_pseudonymize",
    "ts_stream_ohlc",
    "ext_dup_spans",
    "ext_remove_dup_spans",
    "rel_snapshot_diff",
    "ext_pair_graph_stats",
    "rel_group_mode",
    "rel_tpch_q2_min_supplier",
    "rel_tpch_q6_forecast",
    "rel_tpch_q7_volume",
    "rel_tpch_q8_market_share",
    "rel_tpch_q9_profit",
    "rel_tpch_q10_returned",
    "rel_tpch_q11_value_parts",
    "rel_tpch_q12_late_lines",
    "rel_tpch_q13_custdist",
    "rel_tpch_q14_promo",
    "rel_tpch_q15_top_supplier",
    "rel_tpch_q16_supplier_cnt",
    "rel_tpch_q18_large_orders",
    "rel_tpch_q19_disjunctive",
    "rel_tpch_q20_excess_suppliers",
    "rel_tpch_q21_waiting",
    "rel_tpch_q22_idle_customers",
    "ext_gopher_quality",
    "ext_c4_filters",
    "ext_domain_divergence",
    "ext_bigram_logprob",
    "ext_zipf_fit",
    "ext_source_overlap",
    "ext_langid_confusion",
    "ext_template_headers",
    "ext_source_quality_rank",
    "ts_stream_stream_join",
    "ts_stream_stateful_anomaly",
    "ts_stream_multibatch",
    "ts_cumulative_distinct",
    "ts_event_transitions",
    "ts_max_concurrency",
    "ts_gaps_islands",
    "ts_time_weighted_avg",
    "ts_rolling_active_users",
    "ts_interarrival_burstiness",
    "ts_mad_outliers",
    "ts_mom_growth",
    "ext_dedup_exact",
    "ext_dedup_ngram_jaccard",
    "ext_dedup_clusters",
    "ext_curation_pipeline",
    "ext_ann_cosine_topk",
    "ext_text_token_stats",
    "ext_text_quality",
    "ext_embedding_quantize",
    "ts_tumbling_hourly",
    "ts_sliding_hourly",
    "ts_session_windows",
    "ts_stream_microbatch",
    "rel_asof_join",
    "ts_stream_dedup",
    "rel_exists_lineitem",
    "rel_scalar_correlated",
    "rel_partitioned_prune",
    "rel_jsonl_roundtrip",
    "rel_range_join",
    "rel_merge_upsert",
    "rel_pandas_udaf_geomean",
    "ext_inverted_index",
    "ext_tfidf_top_terms",
    "ext_group_cap_sample",
    "ts_resample_gap_fill",
    "ext_doc_chunks",
    "ext_quality_percentile",
    "ts_zscore_anomaly",
    "ts_funnel_stages",
    "ts_cohort_retention",
    "ext_weighted_sample",
    "rel_schema_evolution",
    "ts_sessionize",
    "ext_char_entropy",
    "rel_group_correlation",
    "ts_stream_static_join",
    "rel_outer_join_coalesce",
    "rel_sql_interface",
    "ext_dedup_embedding_cosine",
    "ext_embedding_norms",
    "ext_multimodal_features",
    "ext_pii_redaction",
    "ext_text_repetition",
    "ext_contamination_ngram",
    "ext_corpus_length_histogram",
    "ext_boilerplate_ngrams",
    "ext_text_normalize",
    "ext_pack_shards",
    "ext_text_normalize_nfc",
    "ext_hash_split",
    "ext_vocab_topk",
    "ext_mixture_sample",
    "ext_dup_gram_fraction",
    "rel_grouping_sets",
    "rel_intersect_nation_keys",
    "rel_except_nation_keys",
    "rel_explode_words",
    "rel_range_frame_30d",
    "rel_multi_quantiles",
    "rel_cube_priority_status",
    "rel_distinct_pairs",
    "rel_above_avg_orders",
    "rel_running_total",
    "rel_union_nation_keys",
    "rel_count_distinct",
    "rel_collect_sorted_lists",
]

def _apply_contract_order() -> None:
    missing = [k for k in _CONTRACT_PRIORITY if k not in QUERIES]
    if missing:  # fail loudly: a renamed query would silently fall out of the sweep
        raise RuntimeError(f"contract priority references unknown queries: {missing}")
    seen: set[str] = set()
    dupes = [k for k in _CONTRACT_PRIORITY if k in seen or seen.add(k)]
    if dupes:  # a promotion re-queued without removing the stale row would
        # corrupt the rotation ledger (phantom window slots) — r9 review
        raise RuntimeError(f"contract priority has duplicate entries: {dupes}")
    ordered = _CONTRACT_PRIORITY + [k for k in QUERIES if k not in _CONTRACT_PRIORITY]
    for d in (QUERIES, ORACLES):
        snapshot = dict(d)
        d.clear()
        d.update({k: snapshot[k] for k in ordered if k in snapshot})


_apply_contract_order()

__all__ = ["CONTRACT_WINDOW_ROUND", "QUERIES", "ORACLES", "query"]
