"""Frozen workload membership for the two query workloads.

``RELATIONAL`` and ``OPERATORS`` partition ``bench.HEADLINE`` (the
105-entry headline set).  They are written out here rather than derived,
so that an entry added to, removed from or renamed in ``bench.py`` fails
:func:`check_partition` loudly instead of silently changing what a
workload measures.

``RELATIONAL`` holds the entries whose registry callable calls no
package operator (pure Catalyst: parquet scan, exchange, codegen);
``OPERATORS`` holds every other headline entry (``operators.*`` and
``streaming.*``, including every Python kernel).

A smoke run (sf0.001) covers both complete lists.  A timed run (sf0.01)
covers all of ``RELATIONAL`` (about 11 s warm, 18 s cold on 4 cores) but
only ``OPERATORS_TIMED`` of the operator entries: the whole list takes
61 s warm and 114 s cold (perfbench/profile_sf0.01.txt), more than the
per-run budget.
"""

from __future__ import annotations

RELATIONAL = [
    "pricing_summary", "shipping_priority", "local_supplier_volume",
    "returned_items", "priority_rank_window", "orders_rollup",
    "monthly_order_stats", "event_type_pivot", "rolling_time_window",
    "nation_balance_full_outer", "volume_shipping", "market_share",
    "top_revenue_supplier", "big_quantity_orders", "late_blame_supplier",
    "idle_customer_balance", "product_type_profit", "promo_revenue",
    "line_priority_census", "forecast_revenue", "priority_late_census",
    "cheapest_type_supplier", "important_part_value",
    "customer_order_distribution", "supplier_variety",
    "dominant_part_suppliers",
]

OPERATORS = [
    "events_sessionize", "dedup_exact", "ngram_jaccard_pairs",
    "minhash_candidates", "minhash_dedup", "simhash_pairs",
    "embedding_near_dup", "embedding_topk", "text_profile",
    "asof_purchase_click", "range_join_price_bands", "ivf_topk",
    "doc_repetition", "keyword_topk", "dedup_clusters",
    "embedding_near_dup_lsh", "groups_frame_window", "contamination_check",
    "corpus_clean", "bm25_search", "vocab_zipf", "negative_samples",
    "incremental_dedup", "cdc_latest_events", "scd2_event_history",
    "doc_compression", "data_quality_report", "segment_dedup",
    "winnow_fingerprints", "seq_packing", "bigram_lm", "embedding_quantize",
    "cohort_retention", "semantic_dedup", "tfidf_topk", "doc_novelty",
    "balanced_shards", "mmr_select", "embedding_covariance",
    "text_normalize", "cluster_representatives", "content_chunks",
    "minhash_quality", "hll_distinct", "stream_budget_gate",
    "epoch_upsample", "domain_cap", "dsir_weights", "soft_dedup",
    "vocab_drift", "corpus_summary", "dup_ngram_stats", "training_order",
    "stream_hll_distinct", "token_fertility", "exact_quantiles",
    "priority_sample", "corpus_diff", "robust_anomalies", "dup_graph_stats",
    "sketch_profile", "lang_length_quantiles", "label_noise",
    "json_field_profile", "group_split", "boilerplate_lines", "url_dedup",
    "dup_span_removal", "quality_classifier", "kmeans_clusters",
    "html_extract", "jaccard_join", "warc_extract", "dictionary_tag",
    "context_pairs", "embedding_project", "maxsim_rerank", "ivfpq_topk",
    "ivfpq_topk_staged",
]

# Chosen from perfbench/profile_sf0.01.txt, weighted towards the jobs an
# entry launches while its DataFrame is built (the per-query job floor):
# jaccard_join (13 build jobs), incremental_dedup (11) and sketch_profile
# (3) carry 27 of the list's 170 build jobs.  content_chunks is an Arrow
# text kernel, and stream_budget_gate a Structured Streaming query whose
# micro-batch thread launches a job outside the caller's job group.
# Together about 8% of the whole list's cold and warm time; a run has room
# for no more next to its three fresh-process set-ups.
OPERATORS_TIMED = [
    "jaccard_join", "incremental_dedup", "sketch_profile", "content_chunks",
    "stream_budget_gate",
]


def check_partition(headline: list[str]) -> list[str]:
    """Problems with RELATIONAL/OPERATORS as a partition of ``headline``
    (empty when they partition it exactly)."""
    problems = []
    rel, ops, head = set(RELATIONAL), set(OPERATORS), set(headline)
    if len(RELATIONAL) != len(rel) or len(OPERATORS) != len(ops):
        problems.append("duplicate names in a frozen list")
    if rel & ops:
        problems.append(f"in both lists: {sorted(rel & ops)}")
    if rel | ops != head:
        problems.append(f"missing from the lists: {sorted(head - rel - ops)}; "
                        f"not in bench.HEADLINE: {sorted((rel | ops) - head)}")
    if not set(OPERATORS_TIMED) <= ops:
        problems.append("OPERATORS_TIMED names an entry outside OPERATORS")
    return problems
