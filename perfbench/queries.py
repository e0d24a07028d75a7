"""The pinned query list of the ``batch_sf0.01`` workload (registry names).

One pass (the nine tier builds plus these queries) is the first run of
each in a fresh JVM; README.md explains the sizing.
"""

from __future__ import annotations

QUERIES = [
    # --- LLM data-pipeline operators; all nine shared tiers are rebuilt
    # at the start of every pass, and each has at least two consumers.
    # doc_shingle_tier
    "q_dedup_containment",
    "q_curation_funnel",        # also cc_labels_tier and gate_features_tier
    # ppjoin_pair_tier
    "q_pagerank_dupgraph",      # 44 eager jobs during construction
    "q_dedup_ngram_jaccard",
    # cc_labels_tier
    "q_dedup_clusters",
    # bm25_topn_tier and dense_topk_tier
    "q_bm25_search",
    "q_retrieval_overlap",
    "q_knn_bruteforce",
    "q_hybrid_rrf",             # fusion of the BM25 and dense rankings
    # lsh_topk_tier and ivf_topk_tier
    "q_knn_lsh",
    "q_knn_ivf",
    "q_ann_recall",
    # bpe_merges_tier
    "q_bpe_merges",
    "q_bpe_encode",
    # gate_features_tier
    "q_quality_score",
    "q_gopher_quality",
    # Python workers (pandas UDFs over Arrow)
    "q_model_score",
    "q_rerank_inference",       # batched model inference in mapInPandas
    # no tier
    "q_lang_id",                # per-document language scores
    # --- relational and windowed analytics, no tiers: the stage-1 JSON ETL
    # spine, then a spread of operators from each OLAP module
    "q_order_json_roundtrip",   # nested JSON build, from_json, explode
    # events_analytics
    "q_validate_clean",         # validation filter
    "q_session_window",         # session windows
    "q_asof_join",              # as-of join
    # order_stats
    "q_user_order_stats",       # per-customer order statistics
    "q_status_pivot",           # pivot
    "q_sales_cube",             # cube
    "q_lookup_join",            # dimension lookup join
    "q_cusum_revenue",          # ordered fold in mapInPandas
    # tpch
    "q_forecast_revenue",       # Q6-style scan, filter, aggregate
    "q_shipping_priority",      # Q3-style three-way join
    # composition
    "q_running_total",          # windowed running sum
    "q_union_activity",         # union of event streams
]
