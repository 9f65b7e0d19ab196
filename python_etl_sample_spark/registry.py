"""Query registry — the single source of truth for the engine surface.

Every operator from SURVEY.md §2 registers here via the ``@query``
decorator with its name, the Spark implementation
``(spark, sf_dir) -> DataFrame``, and (when SQL-expressible) the
equivalent DuckDB oracle SQL. ``__spark_entry__.queries()`` /
``oracle_sql()`` are thin views over this registry, so an operator is
"declared" to the driver iff it is registered here.

Contract (driver, __spark_entry__.py docstring): the driver compares
Spark output vs oracle output by row-count + schema + order-insensitive
value-hash with columns sorted by name — so every computed column is
aliased identically on both sides, floats that feed the hash are
rounded identically on both sides, and no query relies on row order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


#: Bench warm-up tags. ``bench.py`` runs every tagged query once,
#: untimed, before its timed pass: one phase per tag, in this order.
#:
#: - ``python``: first use of a Python execution shape (pandas UDFs,
#:   applyInPandas, mapInPandas, Python UDTF, applyInPandasWithState);
#:   the worker pool forks and imports numpy/pandas lazily per shape.
#: - ``stream``: runs a real bounded micro-batch stream; the session's
#:   first stream pays engine, state-store and WAL start-up.
#: - ``staged``: stages its own on-disk input once per process
#:   (scratch.py), so its timed number is read-side only.
#: - ``memo``: reads a session memo (cache.py) shared with other
#:   queries, so its timed number is the downstream compute only.
WARM_TAGS: tuple[str, ...] = ("python", "stream", "staged", "memo")


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = ()  # WARM_TAGS members


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Register an operator implementation under ``name``."""
    unknown = sorted(set(tags) - set(WARM_TAGS))
    if unknown:
        raise ValueError(f"{name}: unknown tags {unknown}; known: {WARM_TAGS}")

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "", tags=tuple(tags)
        )
        return fn

    return deco


#: Canonical surface order. The driver records correctness rows in the
#: order ``queries()`` yields them and round 1 showed it may truncate the
#: artifact (CORRECTNESS_r01.json stopped at the 50th registration-order
#: entry), so the 69 SURVEY.md §2 operators — the graded inventory — come
#: first, in §2 numeric order; extensions follow in registration order
#: (``canonical_names()``).
SURVEY_ORDER: tuple[str, ...] = (
    # §2.1 scans / sources / sinks (#1-6)
    "scan_parquet",
    "scan_projected",
    "source_csv",
    "source_json",
    "sink_parquet",
    "sink_partitioned",
    # §2.2 row ops (#7-11)
    "project_derive",
    "filter_pred",
    "filter_null",
    "filter_like",
    "case_when",
    # §2.3 joins (#12-21)
    "join_inner",
    "join_outer",
    "join_broadcast",
    "join_semi",
    "join_anti",
    "join_theta",
    "join_range",
    "join_asof",
    "join_multiway",
    "self_join",
    # §2.4 aggregates (#22-32)
    "agg_global",
    "agg_groupby",
    "agg_distinct",
    "agg_approx_distinct",
    "agg_having",
    "agg_stats",
    "agg_collect",
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "pivot",
    # §2.5 windows (#33-38)
    "win_rank",
    "win_lag_lead",
    "win_running",
    "win_sliding_frame",
    "win_range_frame",
    "win_ntile_first_last",
    # §2.6 sorts (#39-41)
    "sort_multi",
    "topk",
    "topk_per_group",
    # §2.7 set ops (#42-45)
    "set_union_all",
    "set_union_distinct",
    "set_intersect",
    "set_except",
    # §2.8 scalar functions (#46-51)
    "fn_string",
    "fn_date",
    "fn_math",
    "fn_array",
    "fn_map_from_json",
    "fn_json_build",
    # §2.9 streaming semantics (#52-57)
    "stream_tumbling",
    "stream_sliding",
    "stream_session",
    "stream_watermark_late",
    "stream_dedup_keyed",
    "stream_stateful_counts",
    # §2.10 LLM-pipeline ops (#58-66)
    "dedup_exact",
    "dedup_near_minhash",
    "sim_cosine_topk",
    "sim_knn_per_query",
    "sim_ann_lsh",
    "text_tokenize_counts",
    "text_tfidf_topterms",
    "text_lang_stats",
    "multimodal_join",
    # §2.11 UDF families (#67-69)
    "udf_scalar_pandas",
    "udaf_grouped_agg",
    "udtf_apply_in_pandas",
)


#: Driver-facing rotation (regenerated every round). The driver's
#: CORRECTNESS artifact records at most 50 entries per round in
#: ``queries()`` order; the rotation front-loads evidence that is stale
#: IN KIND, not merely old (VERDICT r8 item 2): (1) queries never
#: recorded in any committed CORRECTNESS_r*.json (new code first);
#: (2) queries whose last driver row is rows-only but which now carry a
#: DuckDB oracle (a hash row is available but never recorded); (3)
#: queries whose defining source file changed — by git commit or
#: working-tree edit — after the artifact carrying their latest row
#: (whatever the driver hashed is not what the repo now runs): the
#: VERDICT-named carryover set leads, then edits ordered newest
#: artifact-round first with stalest row breaking ties; then (4)
#: everything else by (driver-row count, round of most recent row)
#: ascending, so plain re-recording slots go to the stalest evidence.
#: Regenerate with ``python tools/gen_driver_order.py --write``.
#: REGENERATION CADENCE (r13 ADVICE): the committed tuple is written
#: once per round, at FREEZE, after all source edits — so that the
#: changed-since-last-driver-row bucket reflects the tree the driver
#: will actually run. Mid-round (and right after a new
#: CORRECTNESS_r{N}.json lands) the tuple therefore lags its
#: generator's would-be output; that is by design, not drift.
DRIVER_ORDER: tuple[str, ...] = (
    # --- VERDICT-pinned re-evidence (2) ---
    "agg_percentile_cont",
    "stats_theil_sen_trend",
    # --- changed since last driver row (36) ---
    "text_collocations_pmi",
    "text_rake_keywords",
    "ts_holt_winters_forecast",
    "dedup_minhash_param_sweep",
    "graph_personalized_pagerank",
    "corpus_dedup_survivorship",
    "dedup_embedding_ann",
    "dedup_simhash_recall",
    "graph_community_modularity",
    "ml_auc_delong_ci",
    "sim_ann_ivf",
    "sim_ann_lsh",
    "sim_lsh_radius_sweep",
    "stats_cusum_changepoint",
    "stats_kruskal_wallis",
    "graph_label_propagation",
    "dedup_near_minhash",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_jaccard_histogram",
    "dedup_minhash_recall",
    "sim_ann_recall",
    "sim_cosine_topk",
    "sim_knn_per_query",
    "sim_pq_ivf_adc",
    "ann_ivf_imbalance",
    "ann_recall_under_churn",
    "dedup_semdedup_eps",
    "agg_equi_depth_histogram",
    "basket_brand_pairs_lift",
    "etl_merge_upsert",
    "stream_demo_dedup",
    "stream_demo_sliding",
    "stream_demo_watermark_late",
    "data_profile",
    "text_ngram_novelty",
    # --- 1 driver row(s), last in r3 ---
    "pipeline_corpus_clean",
    "stream_dedup_keyed",
    "stream_session",
    "stream_sliding",
    "stream_stateful_counts",
    "stream_tumbling",
    "stream_watermark_late",
    "text_contamination_check",
    "text_fingerprint",
    "text_lang_id",
    "text_lang_stats",
    "text_pack_sequences",
    "text_pii_scrub",
    "text_quality_score",
    "text_repetition_filter",
    "text_tfidf_topterms",
    "text_token_bpe_count",
    "text_tokenize_counts",
    "text_unigram_lm_score",
    "win_percent_cume",
    "win_streak_gaps_islands",
    # --- 1 driver row(s), last in r4 ---
    "agg_bool_bit",
    "agg_count_distinct_multi",
    "agg_filter_clause",
    "agg_minmax_by",
    "agg_regression_ols",
    "explode_token_positions",
    "join_lateral_topk",
    "q_national_market_share",
    "q_order_count_distribution",
    "q_promo_share",
    "q_small_quantity_revenue",
    "subquery_exists",
    "subquery_in_having",
    "subquery_not_exists_inactive",
    "subquery_not_in_null_aware",
    "subquery_scalar_correlated",
    "text_bigram_topk",
    "unpivot_metrics",
    # --- 1 driver row(s), last in r5 ---
    "agg_approx_topk",
    "agg_grouping_id",
    "api_sql_frontend",
    "dq_skew_report",
    "etl_partition_overwrite",
    "etl_snapshot_diff",
    "features_hashing_trick",
    "join_point_in_time_scd2",
    "pipeline_daily_etl",
    "pipeline_feature_store",
    "plan_cbo_multiway",
    "scan_corrupt_records",
    "scan_metadata_columns",
    "set_intersect_except_all",
    "sketch_hll_mergeable",
    "spatial_grid_join",
    "stats_winsorized_mean",
    "win_time_range_frame",
    # --- 1 driver row(s), last in r6 ---
    "agg_theil_index",
    "anon_k_anonymity_report",
    "api_sql_recursive_cte",
    "customer_survival_km",
    "dedup_url_canonicalize",
    "embedding_matryoshka_quality",
    "etl_gdpr_delete_propagation",
    "events_bounce_rate",
    "events_user_lifecycle",
    "features_target_encoding",
    "fn_intervals_overlap_merge",
    "fn_nested_struct_ops",
    "join_asof_tolerance",
    "q_discounted_revenue",
    "q_forecast_revenue",
    "q_global_sales_opportunity",
    "q_large_volume_customer",
    "q_parts_supplier_relationship",
    "q_product_type_profit",
    "q_volume_shipping",
    "stats_bootstrap_poisson_ci",
    "stats_mann_kendall_trend",
    "stats_ols_multivariate",
    "stats_psi_drift",
    "stream_demo_rate_source",
    "stream_demo_session",
    # --- 1 driver row(s), last in r7 ---
    "anon_dp_geometric_histogram",
    "anon_t_closeness",
    "dedup_incremental_batch",
    "dedup_substring_spans",
    "features_target_encoding_loo",
    "graph_harmonic_centrality",
    "spatial_knn_grid",
    "stats_anova_f",
    "stats_kendall_tau",
    "stats_levene_bf",
    "stats_spearman_corr",
    "text_bigram_lm_perplexity",
    "text_char_entropy",
    "ts_autocorrelation",
    "ts_periodogram",
    "ts_seasonal_decompose",
    # --- 1 driver row(s), last in r8 ---
    "sample_balanced_downsample",
    # --- 1 driver row(s), last in r10 ---
    "ml_brier_decomposition",
    "text_bpe_train_merges",
    # --- 1 driver row(s), last in r11 ---
    "events_power_mde",
    "events_srm_check",
    "ml_cohens_kappa",
    "ml_mcnemar_paired",
    "stats_cochran_q",
    "stats_fleiss_kappa",
    "stats_krippendorff_alpha",
    "text_bpe_compression_by_lang",
    "text_log_odds_domain_terms",
    # --- 1 driver row(s), last in r12 ---
    "corpus_mix_alpha_sweep",
    "text_quality_threshold_sweep",
    # --- 2 driver row(s), last in r8 ---
    "agg_approx_quantile",
    "fn_bitwise",
    "fn_json_build",
    "join_bucketed",
    "join_skew_salted",
    "multimodal_decode",
    "q_local_supplier_volume",
    "q_returned_items",
    "q_shipping_priority",
    "sample_split",
    "scan_projected",
    "set_except",
    "set_intersect",
    "set_union_all",
    "set_union_distinct",
    "sink_parquet",
    "sink_partitioned",
    "source_csv",
    "source_json",
    "topk",
    "topk_per_group",
    "win_lag_lead",
    "win_ntile_first_last",
    "win_range_frame",
    "win_rank",
    "win_running",
    "win_sliding_frame",
    # --- 2 driver row(s), last in r9 ---
    "attribution_position_weighted",
    "embedding_binary_hamming",
    "events_ab_lift",
    "events_burstiness",
    "events_cohort_ltv",
    "events_rfm_segmentation",
    "events_uplift_cuped",
    "fn_calendar_buckets",
    "fn_url_parse",
    "join_existence_flags",
    "ml_calibration_bins",
    "ml_conformal_interval",
    "ml_ndcg_retrieval",
    "ml_pr_auc",
    "multimodal_audio_features",
    "multimodal_frame_sample",
    "multimodal_image_thumbnail",
    "sketch_kll_quantiles",
    "stats_chi2_independence",
    "stats_permutation_test",
    "stream_demo_stateful",
    "stream_demo_tumbling",
    "text_containment_dedup",
    "ts_ewma_halflife",
    "ts_resample_interpolate",
    "ts_seasonal_naive_eval",
    "win_qualify_latest",
    "win_ratio_to_report",
    "win_rolling_distinct_users",
    "win_sliding_median",
    # --- 2 driver row(s), last in r10 ---
    "corpus_quality_gate_report",
    "dedup_fuzzy_levenshtein",
    "features_woe_iv",
    "ml_gains_deciles",
    "ml_roc_auc",
    "multimodal_shot_boundary",
    "sketch_bloom_filter",
    "sketch_kll_partitioned_rollup",
    "stats_benford_first_digit",
    "stats_ttest_welch",
    "text_chunk_fixed_overlap",
    "text_dedup_prefix",
    "text_lang_overlap_jaccard",
    "text_zipf_slope",
    "ts_double_exponential_forecast",
    "ts_rolling_regression",
    # --- 2 driver row(s), last in r11 ---
    "corpus_apportion_budget",
    "corpus_temperature_mix",
    "embeddings_centroid",
    "embeddings_class_separation",
    "events_top_paths",
    "stats_gini_lorenz",
    "text_boilerplate_ngrams",
    "text_bpe_encode",
    # --- 2 driver row(s), last in r12 ---
    "agg_histogram",
    "attribution_last_touch",
    "corpus_mix_weights",
    "etl_incremental",
    "etl_scd2_history",
    "events_funnel",
    "events_retention_cohort",
    "fn_regex",
    "q_top_suppliers",
    "text_heaps_law_fit",
    # --- 2 driver row(s), last in r13 ---
    "agg_listagg_ordered",
    "agg_mode_deterministic",
    "agg_percentile_exact",
    "agg_skew_kurt",
    "agg_skew_salted_distinct",
    "agg_weighted_percentile",
    "api_sql_registered_udf",
    "dq_expectations",
    "embedding_int8_quantize",
    "embedding_matryoshka_energy",
    "etl_compact_small_files",
    "etl_incremental_rollup_merge",
    "etl_zorder_clustering",
    "events_cum_distinct_users",
    "events_error_rate_anomaly",
    "events_max_concurrent",
    "events_pattern_funnel_runs",
    "events_sessionize",
    "events_transition_matrix",
    "events_windowed_funnel",
    "graph_connected_components",
    "join_asof_forward",
    "join_asof_nearest",
    "join_bloom_runtime",
    "join_dpp_partitioned",
    "join_hinted_strategies",
    "sample_reservoir_per_key",
    "sample_stratified",
    "sample_weighted_priority",
    "skyline_pareto",
    "source_orc",
    "source_schema_evolution",
    "source_text",
    "stats_corr_matrix",
    "stats_zscore_outliers",
    "ts_gap_fill",
    "ts_mad_outliers",
    "ts_ohlc_bars",
    "udaf_grouped_agg",
    "udf_scalar_pandas",
    "udtf_apply_in_pandas",
    "udtf_python_lateral",
    # --- 2 driver row(s), last in r14 ---
    "agg_exact_quantiles_global",
    "anon_ldp_frequency",
    "cluster_silhouette",
    "dedup_semantic_cluster",
    "dq_referential_integrity",
    "embedding_pca_power",
    "events_markov_kstep",
    "fn_try_safe",
    "graph_bfs_hops",
    "graph_degree_assortativity",
    "graph_jaccard_link_prediction",
    "graph_kcore_peel",
    "graph_pagerank",
    "graph_triangle_count",
    "join_interval_overlap",
    "pipeline_dedup_funnel",
    "sim_ivf_nprobe_sweep",
    "sim_mmr_rerank",
    "sim_rrf_fusion",
    "sketch_cms_frequency",
    "sketch_kmv_distinct",
    "sketch_theta_intersection",
    "stats_friedman",
    "stats_mutual_information",
    "stream_demo_foreachbatch_merge",
    "ts_anomaly_esd",
    # --- 3 driver row(s), last in r10 ---
    "dedup_consensus",
    "text_bm25_rank",
    # --- 3 driver row(s), last in r11 ---
    "anon_l_diversity",
    "dedup_cluster_keeper",
    "dedup_ngram_jaccard",
    "sort_multi",
    "stats_ks_two_sample",
    "text_vocab_coverage",
    "ts_cross_correlation",
    # --- 3 driver row(s), last in r12 ---
    "agg_approx_distinct",
    "agg_collect",
    "agg_cube",
    "agg_distinct",
    "agg_global",
    "agg_grouping_sets",
    "agg_having",
    "agg_rollup",
    "agg_stats",
    "fn_array",
    "fn_date",
    "fn_map_from_json",
    "fn_math",
    "fn_string",
    "join_anti",
    "join_asof",
    "join_broadcast",
    "join_inner",
    "join_multiway",
    "join_outer",
    "join_range",
    "join_semi",
    "join_theta",
    "pivot",
    "self_join",
    "sim_pq_adc",
    # --- 3 driver row(s), last in r13 ---
    "scan_parquet",
    # --- 3 driver row(s), last in r14 ---
    "case_when",
    "dedup_semantic_recall",
    "embedding_knn_outlier",
    "events_dau_wau_mau",
    "events_funnel_latency",
    "filter_like",
    "filter_null",
    "filter_pred",
    "join_null_safe",
    "ml_threshold_sweep",
    "multimodal_join",
    "project_derive",
    "sim_more_like_this",
    "sketch_kll_merge",
    "spatial_hotspot_clusters",
    "stats_rank_sum_u",
    "stats_wilcoxon_signed_rank",
    "stream_demo_static_join",
    "stream_demo_stream_join",
    "text_textrank_keywords",
    # --- 4 driver row(s), last in r11 ---
    "dedup_exact",
    # --- 4 driver row(s), last in r13 ---
    "graph_hits_scores",
    # --- 4 driver row(s), last in r14 ---
    "agg_groupby",
    "cluster_kmeans_lloyd",
)


def canonical_names() -> tuple[str, ...]:
    """SURVEY_ORDER, then every other registered query in registration order."""
    load_all_operators()
    return SURVEY_ORDER + tuple(n for n in REGISTRY if n not in SURVEY_ORDER)


def ordered_registry() -> dict[str, QuerySpec]:
    """REGISTRY re-keyed into the driver-facing order: DRIVER_ORDER (see
    that constant's note), then any registered name it lacks, in
    canonical order — a forgotten DRIVER_ORDER entry degrades ordering,
    never coverage. An unregistered SURVEY_ORDER or DRIVER_ORDER name
    raises ``KeyError``.
    """
    missing = [n for n in SURVEY_ORDER + DRIVER_ORDER if n not in REGISTRY]
    if missing:
        raise KeyError(f"ordered queries not registered: {missing}")
    out = {n: REGISTRY[n] for n in DRIVER_ORDER}
    for n in canonical_names():
        out.setdefault(n, REGISTRY[n])
    return out


def load_all_operators() -> None:
    """Import every operator module so registration side effects run."""
    import python_etl_sample_spark.operators  # noqa: F401
    import python_etl_sample_spark.functions  # noqa: F401
    import python_etl_sample_spark.streaming  # noqa: F401
