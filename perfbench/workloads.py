"""Workload definitions: membership and the timed subset of each.

Membership follows each workload's rule (README.md) and is recorded
here as frozen tuples, so a later change to the program's own query
lists cannot silently move a query between workloads. Each run times a
fixed subset of its workload, chosen once to fit a pass into the run
length on a 4-core machine; it depends on neither the seed nor any
result. The rules and reasons are in README.md and BENCHMARK.json.
"""

from __future__ import annotations

from dataclasses import dataclass

_RELATIONAL = (
    "agg_approx_distinct", "agg_approx_quantile", "agg_approx_topk",
    "agg_bool_bit", "agg_collect", "agg_count_distinct_multi", "agg_cube",
    "agg_distinct", "agg_equi_depth_histogram", "agg_exact_quantiles_global",
    "agg_filter_clause", "agg_global", "agg_groupby", "agg_grouping_id",
    "agg_grouping_sets", "agg_having", "agg_histogram", "agg_listagg_ordered",
    "agg_minmax_by", "agg_mode_deterministic", "agg_percentile_cont",
    "agg_percentile_exact", "agg_regression_ols", "agg_rollup",
    "agg_skew_kurt", "agg_skew_salted_distinct", "agg_stats",
    "agg_theil_index", "agg_weighted_percentile", "case_when", "filter_like",
    "filter_null", "filter_pred", "fn_array", "fn_bitwise",
    "fn_calendar_buckets", "fn_date", "fn_intervals_overlap_merge",
    "fn_json_build", "fn_map_from_json", "fn_math", "fn_nested_struct_ops",
    "fn_regex", "fn_string", "fn_try_safe", "fn_url_parse", "join_anti",
    "join_asof", "join_asof_forward", "join_asof_nearest",
    "join_asof_tolerance", "join_bloom_runtime", "join_broadcast",
    "join_existence_flags", "join_hinted_strategies", "join_inner",
    "join_interval_overlap", "join_lateral_topk", "join_multiway",
    "join_null_safe", "join_outer", "join_point_in_time_scd2", "join_range",
    "join_semi", "join_skew_salted", "join_theta", "pivot", "project_derive",
    "q_discounted_revenue", "q_forecast_revenue", "q_global_sales_opportunity",
    "q_large_volume_customer", "q_local_supplier_volume",
    "q_national_market_share", "q_order_count_distribution",
    "q_parts_supplier_relationship", "q_product_type_profit", "q_promo_share",
    "q_returned_items", "q_shipping_priority", "q_small_quantity_revenue",
    "q_top_suppliers", "q_volume_shipping", "scan_metadata_columns",
    "scan_parquet", "scan_projected", "set_except", "set_intersect",
    "set_intersect_except_all", "set_union_all", "set_union_distinct",
    "sort_multi", "subquery_exists", "subquery_in_having",
    "subquery_not_exists_inactive", "subquery_not_in_null_aware",
    "subquery_scalar_correlated", "topk", "topk_per_group", "unpivot_metrics",
    "win_lag_lead", "win_ntile_first_last", "win_percent_cume",
    "win_qualify_latest", "win_range_frame", "win_rank", "win_ratio_to_report",
    "win_rolling_distinct_users", "win_running", "win_sliding_frame",
    "win_sliding_median", "win_streak_gaps_islands", "win_time_range_frame",
)

_ITERATIVE = (
    "api_sql_recursive_cte", "graph_bfs_hops", "graph_community_modularity",
    "graph_connected_components", "graph_hits_scores", "graph_kcore_peel",
    "graph_label_propagation", "graph_pagerank", "graph_personalized_pagerank",
    "text_textrank_keywords", "ts_anomaly_esd", "ts_holt_winters_forecast",
)

_REUSE = (
    "ann_ivf_imbalance", "ann_recall_under_churn", "basket_brand_pairs_lift",
    "cluster_kmeans_lloyd", "cluster_silhouette", "corpus_dedup_survivorship",
    "dedup_cluster_keeper", "dedup_consensus", "dedup_embedding_ann",
    "dedup_embedding_cosine", "dedup_fuzzy_levenshtein",
    "dedup_jaccard_histogram", "dedup_minhash_param_sweep",
    "dedup_minhash_recall", "dedup_near_minhash", "dedup_ngram_jaccard",
    "dedup_semantic_cluster", "dedup_semdedup_eps", "dedup_simhash",
    "dedup_simhash_recall", "ml_ndcg_retrieval", "multimodal_decode",
    "pipeline_dedup_funnel", "sim_ann_ivf", "sim_ann_recall",
    "sim_cosine_topk", "sim_ivf_nprobe_sweep", "sim_knn_per_query",
    "sim_lsh_radius_sweep", "sim_pq_adc", "sim_pq_ivf_adc", "sim_rrf_fusion",
    "text_bm25_rank", "text_bpe_compression_by_lang", "text_bpe_encode",
    "text_bpe_train_merges", "text_contamination_check", "udaf_grouped_agg",
    "udf_scalar_pandas", "udtf_apply_in_pandas", "udtf_python_lateral",
)

_PIPELINE = (
    "etl_compact_small_files", "etl_gdpr_delete_propagation",
    "etl_incremental", "etl_incremental_rollup_merge", "etl_merge_upsert",
    "etl_partition_overwrite", "etl_scd2_history", "etl_snapshot_diff",
    "etl_zorder_clustering", "join_bucketed", "join_dpp_partitioned",
    "pipeline_corpus_clean", "pipeline_daily_etl", "pipeline_feature_store",
    "plan_cbo_multiway", "scan_corrupt_records", "sink_parquet",
    "sink_partitioned", "sketch_kll_partitioned_rollup", "source_csv",
    "source_json", "source_orc", "source_schema_evolution", "source_text",
    "stream_dedup_keyed", "stream_demo_dedup",
    "stream_demo_foreachbatch_merge", "stream_demo_rate_source",
    "stream_demo_session", "stream_demo_sliding", "stream_demo_stateful",
    "stream_demo_static_join", "stream_demo_stream_join",
    "stream_demo_tumbling", "stream_demo_watermark_late", "stream_session",
    "stream_sliding", "stream_stateful_counts", "stream_tumbling",
    "stream_watermark_late",
)


def every(members: tuple[str, ...], stride: int) -> tuple[str, ...]:
    """Every ``stride``-th member in name order, starting half a stride in."""
    return members[stride // 2 :: stride]


@dataclass(frozen=True)
class Workload:
    name: str
    members: tuple[str, ...]
    timed: tuple[str, ...]  # the fixed subset every pass runs
    #: Untimed passes that end set-up. The first is cold (memo builds,
    #: staging, Python workers, first streams); in the next ones the
    #: queries are still getting faster, which would otherwise make the
    #: early timed passes slower and tie the median pass to the number
    #: of passes.
    warm_passes: int = 3


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload("relational", _RELATIONAL, every(_RELATIONAL, 16)),
        Workload("iterative", _ITERATIVE, every(_ITERATIVE, 4)),
        # Each timed set has as many queries faster than its middle group
        # as slower ones, so the median and the tail percentile fall
        # inside a group of close latencies rather than in a gap.
        # reuse: four Python-boundary kinds (scalar and grouped-agg pandas
        # UDFs, applyInPandas, mapInPandas over a cached_df memo and over
        # binary columns) and two queries sharing BPE training through
        # cached_value
        Workload(
            "reuse",
            _REUSE,
            (
                "multimodal_decode", "sim_cosine_topk", "text_bpe_encode",
                "text_bpe_train_merges", "udaf_grouped_agg",
                "udf_scalar_pandas", "udtf_apply_in_pandas",
            ),
            warm_passes=4,
        ),
        # pipeline: stream_demo_rate_source waits on its rate trigger's
        # wall clock; pipeline_daily_etl stands in for it
        Workload(
            "pipeline",
            _PIPELINE,
            tuple(
                "pipeline_daily_etl" if q == "stream_demo_rate_source" else q
                for q in every(_PIPELINE, 6)
            ),
            warm_passes=6,
        ),
    )
}
