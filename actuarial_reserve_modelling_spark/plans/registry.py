"""Registry mapping SURVEY.md §2 operator rows to runnable queries.

Each entry pairs a Spark query builder ``(spark, sf_dir) -> DataFrame``
with (where SQL-expressible) a DuckDB oracle SQL string over the same
parquet tables. The driver runs both at sf0.01 and compares row count,
schema, and an order-insensitive value hash — so every query obeys the
determinism rules (SURVEY §5.2-1): keyed outputs, float aggregates
rounded, column names aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    survey_rows: str  # e.g. "A4" — ties back to SURVEY.md §2


REGISTRY: dict[str, Query] = {}

# The external oracle check samples only the FIRST 50 entries of the
# registry, so the order of this window decides which queries it covers:
# queries that have never been covered or whose code changed lead it.
# Every other query follows in registration order.
_FRONT = [
    "l41_hard_negative_mining",
    "l41b_hard_negative_ann_planted",
    "l3_cosine_topk",
    "l3d_ann_pq_topk",
    "l34_ann_index_persisted",
    "l37_ivfpq_index_persisted",
    "l46_recall_audit_planted",
    "l47_ivfpq_recall_audit_planted",
    "t10_incremental_ingest_dedup",
    "t13_ann_index_ingest_gate",
    "a9_stats_aggregates",
    "f1b_string_funcs2",
    "f4c_month_grid",
    "f5b_array_ops",
    "f5c_explode_outer",
    "f7b_json_typed",
    "f7c_to_json",
    "j7_salted_join",
    "l11_rag_index_search",
    "l2d_embedding_dedup",
    "l30_media_decode",
    "l5h_tfidf",
    "l5i_bm25",
    "l6c_frame_sample",
    "l9_fuzzy_levenshtein",
    "o5b_multiset_ops",
    "o7_unpivot",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_type_profit",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q16_supplier_part_variety",
    "q17_small_quantity_revenue",
    "q20_excess_shipments",
    "q21_waiting_supplier",
    "s2_file_provenance",
    "s5b_orc_roundtrip",
    "s5c_jsonl_roundtrip",
    "s6_partitioned_roundtrip",
    "s7_resume_roundtrip",
    "s9_json_roundtrip",
    "s10_schema_evolution",
    "s11_orc_roundtrip",
    "t5_watermark_equivalence",
    "t6_stream_dedup_equivalence",
    "w5_range_frame",
    "w6_distribution_ranks",
    "w7_nth_value",
    "w8_nulls_ordering",
    "s1_csv_roundtrip",
    "l45_curation_pipeline",
    "l35_ann_index_add_persisted",
    "l36_ann_index_delete_persisted",
    "l38_dedup_index_delete_persisted",
    "l39_ivfpq_index_delete_persisted",
    "l40_dedup_banded_persisted",
    "l43_vecsig_index_persisted",
    "t11_neardup_ingest_gate",
    "t12_semantic_ingest_gate",
    "q14_promo_revenue",
    "q18_large_orders",
    "q19_disjunctive_predicates",
    "q22_global_sales_opportunity",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "s13_compaction_roundtrip",
    "u4b_python_udtf",
    "w1_ranking",
    "a4_groupby_q1",
    "a6_approx_count_distinct",
    "l27_semantic_dedup",
    "l28_domain_mix",
    "l31_dsir_weights",
    "l32_repeated_spans",
    "l3e_ann_lsh_top1_planted",
    "l3f_ann_ivf_top1_planted",
    "s14_bucketed_colocated_join",
    "ts1_resample_locf",
    "w10_cohort_retention",
    "w11_funnel",
    "w2_lag_lead",
    "w3_running_agg",
    "w4_topk_per_group",
    "w9_sessionization",
    "a10b_approx_percentile",
    "a12_salted_aggregate",
    "a13_bloom_filter",
    "a14_argmax_aggregates",
    "a15_regression_aggregates",
    "a16_hll_sketch_union",
    "a17_bit_aggregates",
    "a18_count_if_mode",
    "a7c_grouping_sets",
    "l42_temperature_mix",
    "l44_epoch_repetition",
    "a11_collect_set",
    "j1_broadcast_join_agg",
    "j2_left_outer_join",
    "j3_semi_join",
    "l5f_winnowing",
    "l6d_audio_frame_energy",
    "o6_tablesample",
    "q11_important_stock",
    "q6_forecast_revenue",
    "s12_zorder_key",
    "t8_stream_static_join",
    "ts2_ewma",
    "j5_asof_join",
    "l10_corpus_prep",
    "l2e_dedup_clusters",
    "l3b_ann_lsh_topk",
    "l3c_ann_ivf_topk",
    "l5_text_stats",
    "l5b_token_counts",
    "l5c_quality_scores",
    "l5d_lang_id",
    "l5e_fingerprints",
    "l5g_text_cleaning",
    "l6_multimodal",
    "l6b_multimodal_resize",
    "l7_label_centroids",
    "l7b_vector_normalize",
    "l8_chunking",
    "o9_dataset_diff",
    "q10_returned_items",
    "q12_shipmode_priority",
    "u1_reserve_pipeline",
    "u1b_reserve_sql_mc",
    "u1c_reserve_risk_measures",
    "u1d_reserve_closed_form",
    "q3_shipping_priority",
    "q_recursive_cte",
    "l25_ann_ivf_index_add",
    "l26_ann_ivfpq_topk",
    "a6b_approx_distinct_bound",
    "a10c_approx_percentile_bound",
    "a16b_hll_union_bound",
    "o6b_tablesample_bound",
    "l29_segment_dedup",
    "a1_a2_global_agg",
    "a5_count_distinct",
    "a7_rollup",
    "a7b_cube",
    "a8_distinct",
    "f1_f2_string_funcs",
    "f3_math_funcs",
    "f4_date_funcs",
    "f4b_date_arith",
    "f5_array_funcs",
    "f6_struct_map",
    "f7_json_extract",
    "f8_case_coalesce",
    "j2b_full_outer_join",
    "j4b_pure_range_join",
    "j6_cross_join",
    "o1_o3_topk",
    "o2_ntile_bucketing",
    "o4_union_all",
    "o5_except_intersect",
    "q_pivot",
    "q_sql_correlated_subquery",
    "s4_listing_source",
    "t1_stream_batch_equivalence",
    "t2_tumbling_window",
    "t3_sliding_window",
    "t4_session_window",
    "t7_stream_stream_join",
    "l17b_bpe_merges_oracle",
    "l17_bpe_merges",
    "l21_bpe_encode",
    "l3h_ann_pq_top1_planted",
    "l3i_ann_ivfpq_top1_planted",
    "l3g_ann_ivf_hier_top1_planted",
    "l19_incremental_minhash_dedup",
    "l27b_semantic_dedup_lsh",
    "l27c_semantic_dedup_ivf",
    "l11b_rag_top1_planted",
    "w13_salted_topk",
    "l33_document_chunking",
    "q2_min_cost_supplier",
    "a13b_bloom_join_exactness",
]


def register(name: str, survey_rows: str, oracle: str | None = None):
    """Decorator: add a query builder to the registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, spark_fn=fn, oracle=oracle, survey_rows=survey_rows)
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every query module (side effect: registration) and return
    the full registry."""
    from actuarial_reserve_modelling_spark.plans import (  # noqa: F401
        relational,
        window_queries,
        streaming_queries,
        analytics,
        extended,
        llm_queries2,
        composite,
        kernel_queries,
        llm_queries,
        misc_queries,
        stats_queries,
        tpch_more,
        training_data,
        window_queries2,
    )

    front = [n for n in _FRONT if n in REGISTRY]
    seen = set(front)
    ordered = front + [n for n in REGISTRY if n not in seen]
    return {n: REGISTRY[n] for n in ordered}
