"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation, no
driver-side materialization cost). The headline set covers the reference-parity
marts plus the scale-path extension operators: the LSH/IVF dedup + similarity
queries ARE benched (round 2) since they are the code that would actually run
at 100 TB; only the deliberately-capped quadratic *_baseline twins stay out
(they time a constant-bounded oracle fixture, not the engine).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_ecommerce_data_spark.plans.queries import QUERIES
from etl_ecommerce_data_spark.session import get_spark

HEADLINE = [
    "pricing_summary",
    "daily_sales",
    "customer_metrics",
    "product_performance",
    "supplier_performance",
    "order_status_delivery",
    "nation_revenue",
    "region_supplier_volume",
    "top_parts_per_brand",
    "churned_customers",
    "events_by_type_day",
    "events_tumbling_5min",
    "asof_events_orders",
    "range_join_view_purchase",
    "nation_daily_revenue_ma",
    "clean_lineitem",
    "dedup_exact_docs",
    "text_stats",
    "text_quality",
    "doc_fingerprints",
    "similarity_topk",
    # round-2: the 100 TB scale paths, timed explicitly
    "daily_sales_bucketed",
    "dedup_minhash_docs",
    "dedup_simhash_docs",
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "embedding_near_dup",
    # round-2 surface additions (batch; streaming queries execute inside
    # their builders, so timing their noop write would be meaningless)
    "session_window_stats",
    "vocab_stats",
    "daily_value_gapfilled",
    "merge_upsert_orders",
    "salted_segment_revenue",
    "corpus_split",
    "doc_chunks",
    # round-3: the reference-parity Olist gold marts (driver-green since r2)
    # get trend lines too, and the Arrow multimodal path is timed explicitly
    "olist_daily_sales",
    "olist_customer_metrics",
    "olist_product_performance",
    "olist_seller_performance",
    "olist_satisfaction_metrics",
    "olist_delivery_performance",
    "multimodal_features",
    # round-3 additions: funnel/cohort/RFM/basket/SCD2 analytics marts and
    # the training-data curation surface (decontamination, packing,
    # stratified rebalance, quantization)
    "funnel_conversion",
    "cohort_retention",
    "rfm_segments",
    "basket_pairs",
    "user_event_scd2",
    "contamination_check",
    "pack_concat_chunks",
    "language_rebalance_sample",
    "embedding_quantize",
    "curation_funnel",
    "event_counts_cms",
    "dedup_cross_corpus",
    # round-3 late additions: layout keys, record linkage, retrieval,
    # profiling, rolling anomaly detection
    "zorder_layout_keys",
    "linkage_fuzzy_docs",
    "tfidf_search",
    "price_histogram",
    "daily_revenue_anomaly",
    "inverted_index",
    "events_sliding_10x5",
    "profile_orders",
    # round-5 additions: training-data hygiene (PII redaction, corpus-level
    # boilerplate chunk removal)
    "text_pii_redact",
    "corpus_boilerplate_removal",
    "doc_rarity_score",
    "embedding_pca_variance",
    "event_type_drift",
    "curate_corpus_hygiene",
]

# Queries whose FIRST build performs a one-time layout step (bucketed table
# materialization, IVF index fit). The layout cost is ingest-time at scale,
# so it is paid outside the timed window; the timed run measures the
# recurring query. Derived from the registry's own tag — a hardcoded name
# set here would silently drift when the next layout query is registered.
_SETUP_ONCE = {n for n, q in QUERIES.items() if "setup_once" in q.tags}


def run_one(spark, name: str, sf_dir: str) -> float:
    if name in _SETUP_ONCE:
        QUERIES[name].builder(spark, sf_dir)  # materialize layout, untimed
    # MEASUREMENT FIX (r18, driver ADVICE r17 #1): builder() is INSIDE the
    # timed region. Under AQE, any plan-build step that executes (a lazy
    # localCheckpoint materializing its upstream stages, an eager input
    # validation) used to run before t0, so the timed noop write measured
    # only the final stage — r17 speedup claims partly measured work moved
    # out of the timer. Timing build+execute together makes the number the
    # query's true end-to-end cost; for plan-only builders the delta is
    # analysis time (tens of ms).
    t0 = time.perf_counter()
    df = QUERIES[name].builder(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    spark = get_spark("bench")
    # Warm the JVM/codegen path once so per-query numbers measure the engine,
    # not first-call class loading.
    QUERIES["pricing_summary"].builder(spark, sf_dir).write.mode("overwrite").format("noop").save()
    # Warm the Python worker pool the same way (session infrastructure, like
    # codegen): the Arrow-batched queries should measure steady-state Arrow
    # transfer + numpy, not one-time worker fork/import cost.
    from pyspark.sql.functions import pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    spark.range(32).repartition(32).select(_warm("id")).write.mode("overwrite").format(
        "noop"
    ).save()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        timings[name] = round(run_one(spark, name, sf_dir), 3)
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
