"""Query registry: the judge-facing operator inventory.

Every implemented operator from SURVEY.md §2 registers here with
(a) a PySpark callable ``(spark, sf_dir) -> DataFrame`` and
(b) where SQL-expressible, an equivalent DuckDB oracle SQL string.
``__spark_entry__.py`` simply re-exports this registry.

Conventions enforced here (see SURVEY.md §7 watch list):
- every computed column is aliased identically in Spark and SQL;
- floating aggregates are rounded on both sides (summation-order drift);
- ``events.ts`` is nanosecond parquet — oracles must CAST to microsecond
  TIMESTAMP to match Spark's truncation.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .scratch import run_scoped

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QueryDef] = {}

# Modules whose import populates the registry (decorator side effect).
# Their order sets insertion order only; load_all() returns the registry
# sorted by _CHECK_PRIORITY, which lists every name.
_OPERATOR_MODULES = (
    "sources.files",
    "sources.rest",
    "sources.sink",
    "plans.pipeline",
    "streaming.windows",
    "streaming.stateful",
    "operators.udfs",
    "operators.dedup",
    "operators.curation",
    "operators.textanalysis",
    "operators.multimodal",
    "operators.asof",
    "operators.sqlapi",
    "operators.quality",
    "operators.similarity",
    "operators.projections",
    "operators.joins",
    "operators.aggregations",
    "operators.windows",
    "operators.sorts",
    "operators.setops",
    "operators.scalars",
)

_loaded = False

# Iteration order of load_all(). The external correctness harness walks
# the registry under a count budget and checks only the first ~50 names
# each round, so the head of this list holds the ids whose newest recorded
# check is stalest, with ids whose source changed since their last check
# ahead of their cohort. The list is edited by hand (no script generates it), and
# test_check_priority_is_complete_and_duplicate_free pins it as a
# permutation of the registry.
_CHECK_PRIORITY = (
    "x3x6_maintenance_plan",
    "x3z6_post_merge_ivf_topk",
    "x3z7_post_merge_recall",
    "a19b_trimmed_mean_scalable",
    "a20b_winsorized_mean_scalable",
    "x2j2b_semdedup_prune_post_split",
    "x3x4_ivf_cell_merge",
    "x3x5_post_merge_centroids",
    "x3z4_tombstone_ivf_topk",
    "x3z5_tombstone_occupancy",
    "x2j2_semdedup_prune",
    "x3u_ivf_knn_graph",
    "s7_raw_sink_roundtrip",
    "s8_validated_insert",
    "t12_streaming_decontamination",
    "t1_tumbling_window",
    "t2_sliding_window",
    "t3_session_window",
    "t4_watermarked_agg",
    "t5_streaming_dedup",
    "u4_union_schema_drift",
    "w7_funnel_detect",
    "x2b3_simhash_full_oracle",
    "x2w2_prefix_filter_full_corpus",
    "x2y_lsh_parameter_planner",
    "x3b2_similarity_lsh_oracle",
    "x3c_vector_features",
    "x3v_knn_graph_recall",
    "x4b_term_frequency",
    "x4w_gopher_rules",
    "x5_multimodal_payload",
    "x6_deterministic_split",
    "x6s_decontaminated_mixture",
    "x6t_curriculum_anneal",
    "x2j_semantic_dedup",
    "a11b_cdc_rollup_compose",
    "e2_sql_bracket_revenue",
    "e2_sql_large_quantity",
    "e2_sql_promo_revenue",
    "e2_sql_returned_revenue",
    "j10b_aqe_skew_join",
    "j11_bucketed_join",
    "s1c_rest_env_auth",
    "s1d_oauth_refresh",
    "s24_incremental_file_ledger",
    "s2c_link_header_read",
    "s3_rate_limited_read",
    "s7d_mongomock_upsert",
    "s7e_mongomock_readback",
    "s9b_rest_stream",
    "t6_stateful_per_key",
    "w14_time_weighted_avg",
    "w8_time_range_window",
    "x1c_dedup_rate_by_source",
    "x1d_url_dedup_report",
    "x1e_bloom_prescreen",
    "x2i_lsh_exact_rescore",
    "x2k_quality_dedup_manifest",
    "x3f_embedding_quantize",
    "x3g_similarity_quantized",
    "x3h_ann_recall_eval",
    "x3i_dim_truncation_recall",
    "x3j_pq_codes",
    "x3k_pq_adc_topk",
    "x3l_pq_recall",
    "x3w_knn_graph_multiprobe_repair",
    "x4i_repetition_profile",
    "x4j_unigram_logprob",
    "x4k_tfidf",
    "x4l_trigram_stats",
    "x4m_source_vocab_overlap",
    "x4n_quality_deciles",
    "x5f_wav_decode",
    "x5i_audio_rms_profile",
    "x5j_image_channel_stats",
    "x5k_scene_change",
    "x6d2_decontamination_normalized",
    "x6e_mixture_reweight",
    "x6f_length_histogram",
    "x6g_per_source_sample",
    "x6h_packing_efficiency",
    "x6i_corpus_funnel",
    "x6u_epoch_reshuffle_manifest",
    "x3x_incremental_ivf_admission",
    "a12_hll_sketch_rollup",
    "a13_heavy_hitters",
    "e1_etl_connector",
    "e2_sql_dormant_customers",
    "e2_sql_exists_priority",
    "e2_sql_order_distribution",
    "e2_sql_scalar_subquery",
    "e2_sql_shipping_priority",
    "e2_sql_waiting_orders",
    "f4_iter_udf",
    "j12_interval_grid_join",
    "j8b_asof_join_tolerance",
    "s15_quarantine_split",
    "s16b_zorder_layout_scalable",
    "s17_write_audit_publish",
    "s7b_document_sink",
    "s7c_document_writer",
    "s8b_dq_report",
    "t7_incremental_sink",
    "t8_stream_static_join",
    "t9_stream_stream_join",
    "u5_bag_setops",
    "w10_ewma",
    "w4b_quartile_cutpoints",
    "w9_rolling_zscore_anomaly",
    "x1b_incremental_dedup",
    "x2_minhash_near_dedup",
    "x2b2_simhash_pairs",
    "x2b_simhash",
    "x2c_ngram_jaccard",
    "x2d_embedding_neardup",
    "x2e_dedup_clusters",
    "x2f_embedding_neardup_lsh",
    "x2g_minhash_full_oracle",
    "x2h_short_docs",
    "x2m_threshold_sweep",
    "x2n_incremental_near_dedup",
    "x2p_paragraph_near_dedup",
    "x3b_similarity_lsh",
    "x3m_pq_ivf_search",
    "x4e2_lang_confusion",
    "x4u_bm25_retrieval",
    "x6j_dedup_aware_mixture",
    "x6v_chunk_overlap_manifest",
    "x6w_chunk_decontamination",
    "a17_weighted_median",
    "a1_count_validate",
    "a2_groupby_agg",
    "f6_map_in_arrow",
    "s25_generation_drift_audit",
    "s26_time_travel_read",
    "t6c_state_ttl_expiry",
    "w15_gaps_islands",
    "x2e2_global_dedup_clusters",
    "x2q_duplicated_gram_mass",
    "x2r_cross_source_gram_flow",
    "x2z_lsh_quality_audit",
    "x3d_similarity_ivf",
    "x3n_pq_refine_topk",
    "x3p_ivf_nprobe_sweep",
    "x3y_mips_matmul_topk",
    "x4a2_bpe_token_count",
    "x4a_token_count",
    "x4c_quality_score",
    "x4d2_winnowing",
    "x4d_fingerprint",
    "x4e_lang_id",
    "x4f_corpus_curation",
    "x4g_column_profile",
    "x4h_pii_redaction",
    "x4n2_quality_deciles_scalable",
    "x4o_token_entropy",
    "x4v_hybrid_rrf_fusion",
    "x4x_retrieval_eval",
    "x4y_keyword_extract",
    "x5b_multimodal_decode",
    "x5d_resize",
    "x5g_ppm_resize",
    "x5h_ppm_frame_sample",
    "x5l_audio_silence_trim",
    "x5m2_hamming_near_dedup",
    "x5m_image_phash_dedup",
    "x5n2_hamming_audio_near_dedup",
    "x5n_audio_fingerprint_dedup",
    "x5r_video_near_dedup",
    "x5s_keyframe_select",
    "x5t_audio_gain_normalize",
    "x6b_sequence_packing",
    "x6c_mixture_sample",
    "x6d_decontamination",
    "x6k_incremental_admission_funnel",
    "x6l_shard_manifest",
    "x6x_chunk_bm25_retrieval",
    "x6y_dedup_survivorship",
    "x6z_token_budget_waterfill",
    "a18_grouped_mad",
    "a3_distinct",
    "a5_cube",
    "a5_rollup",
    "a6_percentiles",
    "a7_collect_agg",
    "a8_pivot",
    "e2_sql_forecast_revenue",
    "e2_sql_market_share",
    "e2_sql_top_supplier",
    "e2_sql_volume_shipping",
    "f7_apply_in_arrow",
    "f_array_family",
    "f_conditional_family",
    "f_datetime_family",
    "f_hash_family",
    "f_json_family",
    "f_math_family",
    "f_string_family",
    "f_struct_family",
    "j10_salted_skew_join",
    "j1_inner_equi_join",
    "j2_left_outer_join",
    "j3_full_outer_join",
    "j4_semi_join",
    "j5_anti_join",
    "j6_broadcast_join",
    "j7_range_join",
    "j8_asof_join",
    "j8c_asof_join_nearest",
    "j9_cross_join",
    "o1_order_by",
    "s18_cdc_apply",
    "s19_dynamic_partition_overwrite",
    "u6_not_in_null_semantics",
    "w11_cumulative_distinct",
    "w12_retention_cohorts",
    "x2e2b_global_dedup_clusters_full",
    "x2e3_incremental_closure",
    "x2s2_span_dedup_by_source",
    "x2s_substring_span_dedup",
    "x2v_containment_rescore",
    "x3q_mrl_refine_topk",
    "x3r_kmeans_step",
    "x4z2_chunk_mmr_rerank",
    "x4z_mmr_diversified_retrieval",
    "x5u_shot_segmentation",
    "x6y2_dedup_survivorship_full",
    "x6y3_incremental_survivorship",
    "x6z2_dedup_aware_waterfill",
    "a19_grouped_trimmed_mean",
    "x3z_trained_ivf_topk",
    "a14_countmin_sketch",
    "a15_grouped_mode",
    "e2_sql_important_stock",
    "e2_sql_min_cost_supplier",
    "e2_sql_priority_shipping",
    "e2_sql_product_profit",
    "e2_sql_promising_parts",
    "e2_sql_supplier_part_counts",
    "e3_curation_pipeline",
    "o2_limit_topn",
    "o3_top_k_per_group",
    "p1_project",
    "p2_filter",
    "p3_drop_empty",
    "p4_null_fill",
    "p5_type_cast",
    "p6_field_sanitize",
    "p6b_sanitize_generic",
    "p7_flatten",
    "q1_pricing_summary",
    "s16_zorder_layout",
    "s1_rest_source",
    "s20_incremental_lake_merge",
    "s21_merge_on_read",
    "s2_paginated_read",
    "t10_streaming_cumulative_distinct",
    "t11_foreachbatch_upsert",
    "u1_union_all",
    "u2_intersect",
    "u3_except",
    "w13_rolling_distinct_users",
    "w1_row_number_latest",
    "w1b_rank_dense_rank",
    "w2_lag_lead",
    "w3_running_agg",
    "x2e4_closure_retraction",
    "x4p_zipf_fit",
    "x4q_readability",
    "x4s_bigram_logprob",
    "x5o_image_patchify",
    "x5p_audio_decimate",
    "x6b2_bfd_packing",
    "x6b3_takedown_pack_audit",
    "x6h2_packing_comparison",
    "x6m_importance_resample",
    "x6q_split_leakage_audit",
    "x6y4_retraction_survivorship",
    "a20_grouped_winsorized_mean",
    "x3x2_ivf_cell_split",
    "x3x3_post_split_centroids",
    "x3z2_post_split_ivf_topk",
    "x3z3_post_split_recall",
    "a10_stats_agg",
    "a11_incremental_rollup",
    "a16_skew_histogram_2d",
    "a4_approx_count_distinct",
    "a5_grouping_sets",
    "a6_percentile_approx",
    "a8b_unpivot",
    "a9_key_skew_profile",
    "e2_sql_regional_revenue",
    "f1_pandas_udf",
    "f2_grouped_udaf",
    "f3_udtf_expand",
    "f5_cogrouped_asof",
    "s10_upsert_latest_wins",
    "s11_partitioned_lake",
    "s12_compaction",
    "s13_schema_evolution",
    "s14_snapshot_diff",
    "s1b_rest_infer",
    "s22_dpp_pruned_join",
    "s23_generation_vacuum",
    "s2b_cursor_read",
    "s4_json_scan",
    "s5_parquet_scan",
    "s6_csv_scan",
    "w4_ntile_percent_rank",
    "w5_first_last_value",
    "w6_sessionize",
    "x1_exact_dedup",
    "x2s3_span_dedup_mapcombine",
    "x2w_prefix_filter_join",
    "x3_similarity_bruteforce",
    "x3r2_kmeans_train",
    "x3s_radius_search",
    "x3t_filtered_search",
    "x4t_quality_ensemble",
    "x5c_frame_sample",
    "x5e_ppm_decode",
    "x5q_image_histogram",
    "x6b4_incremental_repack",
    "x6b5_repack_reconciliation",
    "x6n_temperature_mixture",
    "x6p_epoch_schedule",
    "x6q2_cluster_coherent_split",
    "x6q3_split_ratio_drift",
)


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a query under ``name`` with an optional DuckDB
    oracle. Raises on duplicate names — the driver keys everything on them."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")

        # Registry dispatch builds under run_scoped: the caches a query
        # persists live exactly as long as the DataFrame it returns.
        @functools.wraps(fn)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return run_scoped(fn, spark, sf_dir)

        _REGISTRY[name] = QueryDef(
            name=name, fn=run, oracle=oracle, tags=tuple(tags), doc=fn.__doc__ or ""
        )
        return fn

    return deco


def load_all() -> dict[str, QueryDef]:
    """Import every operator module (idempotent) and return the registry."""
    global _loaded
    if not _loaded:
        package = __name__.rsplit(".", 1)[0]
        for mod in _OPERATOR_MODULES:
            importlib.import_module(f"{package}.{mod}")
        _loaded = True
    rank = {name: i for i, name in enumerate(_CHECK_PRIORITY)}
    ordered = sorted(
        _REGISTRY.items(), key=lambda kv: (rank.get(kv[0], len(rank)),)
    )
    return dict(ordered)


def all_queries() -> dict[str, QueryFn]:
    return {name: qd.fn for name, qd in load_all().items()}


def all_oracles() -> dict[str, str]:
    return {
        name: qd.oracle for name, qd in load_all().items() if qd.oracle is not None
    }
