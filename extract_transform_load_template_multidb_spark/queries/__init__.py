"""Named-query registry: the driver-facing catalog of every operator.

Each query is registered under a stable name with (a) a PySpark callable
``(spark, sf_dir) -> DataFrame`` and (b) — when SQL-expressible — an ANSI-SQL
oracle string that DuckDB runs on the same parquet tables. The pair is the
correctness contract from SURVEY.md §5: row count + schema + order-insensitive
value hash must match.

Float discipline: order-insensitive hashing means double aggregation must be
order-independent, so every SUM/AVG over doubles goes through
``DECIMAL(38,6)`` (exact, associative) and is cast back to double — both in
the Spark plan and in the oracle SQL — making the results bit-identical
regardless of partitioning.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Decorator: register a named query and (optionally) its DuckDB oracle.

    Raises on duplicate names: a second registration under an existing
    name would silently WIN the dict slot and shadow the first
    implementation out of every correctness gate (this happened to
    three queries across sessions before this guard existed)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(existing: {QUERIES[name].__module__}, "
                f"new: {fn.__module__})"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    _load_all()
    return dict(ORACLES)


_loaded = False

# The correctness driver checks the FIRST 50 queries in registry order
# each round. Registry order is therefore evidence policy: queries whose
# driver evidence is missing or stale go first, the reference's §2-mapped
# surface stays inside the window every round, and the most expensive
# pairs go last so a budget cut re-verifies proven heavy queries rather
# than denying first evidence to cheap ones.
_CHECK_FIRST = (
    # Round-12 window (positions 1-50): per VERDICT.md task #9 and the
    # round-11 rotation plan below, the window leads with this round's
    # REWRITTEN dedup/minhash/simhash family (8 names — min-shared-band
    # emission, stats-gated fan-out, eqNullSafe staleness, and the
    # recall audit's subtraction rewrite all need driver-grade re-proof;
    # estimator_calibration and shingle_entropy are also first-evidence)
    # followed by the next 42 never-driver-checked names in queue order.
    # Green-ever union after CORRECTNESS_r11 = 392/571; this window
    # moves it to >=434 (42 fresh + 8 re-proven rewritten).
    "dedup_lsh_recall_audit",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_incremental_minhash",
    "dedup_clusters_minhash",
    "dedup_bbit_minhash_estimate",
    "dedup_minhash_estimator_calibration",
    "dedup_shingle_entropy",
    "agg_covariance_matrix",
    "agg_pca_top_component",
    "agg_mahalanobis_outliers",
    "agg_ols_two_features",
    "agg_kmeans_1d_two_centers",
    "agg_capture_recapture",
    "agg_bootstrap_se_mean",
    "subquery_not_in_null_semantics",
    "graph_local_clustering_histogram",
    "agg_fisher_exact_2x2",
    "agg_cramer_von_mises_2sample",
    "agg_mcnemar_paired_test",
    "agg_gamma_mom_fit",
    "agg_hill_tail_index",
    "agg_stratified_ate",
    "agg_wilcoxon_signed_rank",
    "agg_friedman_weekday_test",
    "feature_target_encoding",
    "agg_auc_rank_sum",
    "agg_expected_calibration_error",
    "agg_probabilistic_scores",
    "agg_qini_uplift_deciles",
    "etl_schema_evolution_union",
    "etl_cdc_latest_state",
    "etl_mv_incremental_refresh",
    "etl_dead_letter_json",
    "etl_cdc_apply_with_deletes",
    "etl_partition_planning",
    "etl_cdc_state_as_of",
    "etl_merge_outcome_preview",
    "etl_event_debounce",
    "etl_late_arrival_profile",
    "etl_backfill_plan",
    "dq_value_histogram",
    "dq_benford_first_digit",
    "dq_table_checksum",
    "join_scd2_point_in_time",
    "dq_missing_hours",
    "dq_freshness_watermarks",
    "dq_rule_violations",
    "dq_order_total_reconciliation",
    "dq_distribution_drift",
    # Section-2 reference surface at positions 51-56 (driver-proven r11;
    # pytest-guarded <=60, back inside the 50-window ~every 3 rounds).
    "etl_full_snapshot",
    "etl_window_extract",
    "etl_inf_null_clean",
    "etl_retention_complement",
    "etl_nvarchar_promotion",
    "sink_window_overwrite_roundtrip",
    # Never-driver-checked queue continues (round-13 window source).
    "dq_join_coverage",
    "dq_sample_bias_audit",
    "dq_column_cardinality_profile",
    "dq_normalized_key_collisions",
    "dq_partition_rowcount_drift",
    "dq_row_completeness_histogram",
    "dq_candidate_key_discovery",
    "dq_referential_health_dashboard",
    "dq_double_fire_detector",
    "text_tfidf_topterms",
    "text_bm25_search",
    "text_unigram_logprob",
    "text_bigram_logprob",
    "text_prf_query_expansion",
    "mm_decode_wav",
    "mm_audio_dominant_freq",
    "mm_resize_ppm",
    "mm_image_dhash",
    "mm_dhash_hamming_pairs",
    "mm_wav_silence_ratio",
    "mm_image_channel_entropy",
    "mm_audio_clipping_detect",
    "pyfunc_udtf_chunks",
    "set_intersect_all",
    "set_except_all",
    "join_null_safe_equal",
    "set_symmetric_difference",
    "ts_rolling_zscore",
    "window_cohort_retention",
    "ts_ohlc_rollup",
    "stream_interval_join_left",
    "ts_hour_of_day_profile",
    "window_session_gap_ids",
    "ts_time_weighted_avg",
    "ts_interpolate_linear",
    "ts_autocorr_lag1",
    "ts_session_conversion",
    "ts_cumulative_unique_users",
    "ts_wow_growth",
    "ts_peak_detection",
    "ts_weekly_churn",
    "ts_dau_wau_stickiness",
    "ts_new_vs_returning",
    "window_longest_streak",
    "ts_calendar_heatmap",
    "ts_burstiness_index",
    "ts_peak_concurrency",
    "ts_rate_limit_audit",
    "ts_anomalous_days",
    "ts_activity_gini",
    "ts_ewma_revenue",
    "window_cusum_changepoint",
    "ts_seasonality_strength",
    "ts_bounce_rate",
    "ts_seasonal_naive_backtest",
    "ts_rolling_corr_clicks_purchases",
    "window_top_movers_wow",
    "stream_tumbling_distinct_users",
    "ts_fourier_top_periods",
    "ts_expected_shortfall",
    "ts_rsi_momentum",
    "ts_session_path_trigrams",
    "ts_multi_touch_attribution",
    "ts_granger_predictive_lift",
    "ts_count_overdispersion",
    "ts_event_rate_ci",
    "ts_weekday_anova",
    "ts_markov_entropy_rate",
    "ts_gumbel_daily_max_fit",
    "ts_cohort_ltv_projection",
    "ts_interrupted_time_series",
    "ts_seasonal_naive_skill",
    "ts_seasonal_residual_anomalies",
    "window_signup_to_purchase_latency",
    "ts_seasonal_strength",
    "ts_kpss_stationarity",
    "ts_adf_unit_root",
    "ts_pettitt_changepoint",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q11_important_stock",
    "q12_late_lines_priority",
    "q14_promo_effect",
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "q19_disjunctive_revenue",
    "q20_part_promotion",
    "q21_waiting_suppliers",
    "q22_dormant_customers",
    "sim_cosine_topk_pq",
    "dedup_duplicated_spans",
    "text_bpe_pair_stats",
    "dedup_lsh_bucket_stats",
    "curation_domain_cap",
    "sim_cosine_topk_matmul",
    "dedup_split_doc_stitch",
    "text_lang_id_confusion",
    "dedup_prefix_truncates",
    "curation_source_gini",
    "curation_length_bucket_mix",
    "text_vocab_growth_curve",
    "text_source_js_divergence",
    "text_type_token_ratio",
    "text_rare_type_mass",
    "text_compression_proxy",
    "text_internal_self_similarity",
    "sim_embedding_health_audit",
    "sim_corpus_diversity",
    "text_boundary_token_profile",
    "text_lang_mismatch_docs",
    "sim_knn_label_vote",
    "sim_label_centroid_margin",
    "sim_hard_negative_mining",
    "dedup_exact_normalized",
    "sim_pq_reconstruction_error",
    "curation_temperature_mixture_weights",
    "text_code_detection",
    "sim_embedding_drift_by_label",
    "text_zipf_fit",
    "text_word_burstiness",
    "curation_sampling_manifest",
    "text_lang_id_cohens_kappa",
    "sim_precision_at_k",
    "text_heaps_law_fit",
    "text_good_turing_unseen",
    "text_skipgram_ppmi",
    "text_token_simpson_diversity",
    "text_textrank_keywords",
    "sim_lsh_mrr",
    "sim_simplified_silhouette",
    "graph_ktruss_edges",
)

_CHECK_LAST = (
    "dedup_embedding_cosine",
    "dedup_ngram_jaccard",
    "dedup_clusters_minhash",
    "dedup_minhash_lsh",
)

# ROUND-13 ROTATION PLAN (do this FIRST next round): once
# CORRECTNESS_r12 confirms the round-12 window (positions 1-50 above),
# replace positions 1-50 with the next 50 still-never-driver-green
# names in queue order (positions 51+ above), unless that round rewrites
# operators again — rewritten queries take the head of the window.
# Keep the section-2 six inside the window roughly every 3 rounds (last
# re-proven: r11, due ~r14); otherwise they sit immediately after it
# (pytest-guarded <=60). Expected green-ever after r12: ~434/571. All
# tail names pass the strict local gate at sf0.001 AND sf0.01
# (CORRECTNESS_LOCAL_r10: 571/571); rotation converts that into
# driver-proven union coverage.


def _load_all() -> None:
    global _loaded
    if _loaded:
        return
    # Import for registration side effects.
    from extract_transform_load_template_multidb_spark.queries import (  # noqa: F401
        advanced,
        etl,
        governance,
        ir,
        multimodal,
        pyfunc,
        relational,
        time_windows,
        tpch_patterns,
    )

    # Deliberately NOT wrapped in try/except: swallowing an ImportError
    # here would silently shrink the registry the driver sees (~150
    # queries would vanish from the gate without any error). There is no
    # optional dependency left in llm_data that justifies a soft import.
    from extract_transform_load_template_multidb_spark.queries import (  # noqa: F401
        llm_data,
    )
    order = [n for n in _CHECK_FIRST if n in QUERIES]
    order += [
        n for n in QUERIES if n not in _CHECK_FIRST and n not in _CHECK_LAST
    ]
    order += [n for n in _CHECK_LAST if n in QUERIES and n not in _CHECK_FIRST]
    for mapping in (QUERIES, ORACLES):
        items = {n: mapping[n] for n in order if n in mapping}
        mapping.clear()
        mapping.update(items)
    _loaded = True
