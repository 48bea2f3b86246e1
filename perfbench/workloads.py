"""The benchmark's workloads: which fixtures each needs, which directory
its queries read, and the registered queries (plus the ``convert`` step,
the reference job) one pass executes. The seed sets the order of a pass.

Each pass is sized to take 15-35 s on a 4-CPU host, so that a whole run
(a cold Spark process, the pass and the output checks) stays under a
minute while the pass still holds 30-40 executions for the latency
percentiles.
"""

from __future__ import annotations

import random

OLAP = [
    # TPC-H shapes
    "q1_pricing_summary", "q2_min_per_group_joinback", "q3_shipping_priority",
    "sql_q6_forecast_revenue", "q13_customer_distribution", "q19_disjunctive_pred",
    "q22_inactive_customers", "sql_q20_excess_shippers",
    # SQL surface
    "sql_in_subquery", "sql_correlated_exists", "sql_scalar_subquery",
    "sql_grouping_sets", "sql_group_by_all",
    # joins
    "join_anti", "join_semi", "join_left_outer", "join_full_outer", "join_theta_range",
    "join_cross_dims",
    # windows
    "window_rank_battery", "window_offsets", "window_running_sum", "topk_per_group",
    # aggregates
    "agg_corr_covar", "cube_agg", "having_filter", "distinct_values",
    # set operations
    "setop_union_all", "setop_union_distinct", "setop_intersect", "setop_except",
    # JSON and scalar functions
    "json_extract_props", "json_to_json", "scalar_date_funcs", "conditional_case",
    "null_handling_funcs",
    # the reference job: reviews TSV -> 10 parquet files
    "convert",
    # write path, metrics to alarm
    "parquet_partitioned_write", "cdc_merge_upsert", "formats_orc_roundtrip", "alarm_scale_out",
]

LLM_CORPUS = [
    # dedup; the cosine pair memo is built by dedup_embedding_cosine (0.4)
    # and by the first of the two graph riders of the 0.3 key
    "dedup_exact", "dedup_keep_first_by_key", "dedup_bag_normalized",
    "dedup_embedding_cosine", "graph_triangle_count", "graph_kcore_peel",
    # similarity search and embeddings
    "similarity_topk_exact", "similarity_ivf_topk", "vector_norms",
    # text
    "text_word_freq_topk", "text_tfidf_top_term", "text_bm25_retrieval",
    "text_token_stats", "text_fingerprint", "text_pii_scrub", "pack_token_chunks",
    # Python UDF surfaces
    "python_udf_scalar", "mapinarrow_token_stats",
    # multimodal decode and features
    "multimodal_decode_meta", "multimodal_decode_png", "multimodal_decode_wav",
    "multimodal_decode_jpeg", "multimodal_decode_gif", "multimodal_phash_dedup",
    "multimodal_feature_extract", "multimodal_frame_sample",
    # corpus ingest and pipelines
    "corpus_warc_ingest", "corpus_tar_ingest",
    "e2e_corpus_pipeline", "e2e_multimodal_pipeline",
]

WORKLOADS = {
    "olap_sf0.1": {"fixtures": ("sf0.1", "reviews"), "data": "sf0.1", "steps": OLAP},
    "llm_corpus_sf0.1": {"fixtures": ("sf0.1",), "data": "sf0.1", "steps": LLM_CORPUS},
}


def ordered_steps(workload: str, seed: int) -> list[str]:
    steps = list(WORKLOADS[workload]["steps"])
    random.Random(seed).shuffle(steps)
    return steps
