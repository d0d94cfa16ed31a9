"""The benchmark's workloads, frozen here so that editing the engine's own
lists (``bench.HEADLINE``, query tags) cannot change what is measured.

``gold_marts`` and ``llm_curation`` are drawn from the 67 headline queries:
``llm_curation`` from the 28 tagged text, dedup, similarity or multimodal,
``gold_marts`` from the other 39. Each list keeps the queries that load its
layers most (the six Olist marts, the joins, windows, as-of and range
joins, the funnel/cohort/RFM/basket marts and the bucketed layout for
``gold_marts``; the LSH/IVF/SimHash/MinHash paths, the Arrow functions and
the persisted intermediates for ``llm_curation``) and drops near-duplicates
of what is kept (30 of the 39 for ``gold_marts``, 14 of the 28 for
``llm_curation``), so one cold pass of each stays near 20 s on 4 cores and
a full set of benchmark runs fits its time budget. ``medallion_etl`` runs the
pipeline's three zone builders in order.
"""

from __future__ import annotations

GOLD_MARTS = (
    "pricing_summary",
    "daily_sales",
    "daily_sales_bucketed",
    "customer_metrics",
    "product_performance",
    "supplier_performance",
    "order_status_delivery",
    "nation_revenue",
    "churned_customers",
    "top_parts_per_brand",
    "nation_daily_revenue_ma",
    "salted_segment_revenue",
    "asof_events_orders",
    "range_join_view_purchase",
    "events_tumbling_5min",
    "session_window_stats",
    "user_event_scd2",
    "olist_daily_sales",
    "olist_customer_metrics",
    "olist_product_performance",
    "olist_seller_performance",
    "olist_satisfaction_metrics",
    "olist_delivery_performance",
    "funnel_conversion",
    "cohort_retention",
    "rfm_segments",
    "basket_pairs",
    "daily_revenue_anomaly",
    "profile_orders",
    "event_type_drift",
)

LLM_CURATION = (
    "dedup_exact_docs",
    "text_quality",
    "doc_fingerprints",
    "similarity_topk",
    "dedup_minhash_docs",
    "dedup_simhash_docs",
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "embedding_near_dup",
    "multimodal_features",
    "tfidf_search",
    "corpus_boilerplate_removal",
    "doc_rarity_score",
    "embedding_pca_variance",
)

# Queries whose first build writes a one-time layout (bucketed tables, the
# IVF index); the benchmark builds them during set-up.
SETUP_ONCE = ("daily_sales_bucketed", "similarity_topk_ivf")

# The pipeline's zone builders, in run order (``pipeline.run_pipeline``).
MEDALLION_ETL = ("bronze_ingest", "silver_refine", "gold_build")

WORKLOADS = {
    "gold_marts": GOLD_MARTS,
    "llm_curation": LLM_CURATION,
    "medallion_etl": MEDALLION_ETL,
}
