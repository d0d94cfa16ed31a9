"""DAG-integrity analog (SURVEY §5): every registry query must compile to a
physical plan without execution; SQL views register for all tables."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from etl_ecommerce_data_spark.plans.queries import QUERIES
from etl_ecommerce_data_spark.plans.sql_api import register_views

from tests.conftest import SF_SMOKE

# Streaming builders drive a query to completion and iterative builders run
# actions inside the build — both EXECUTE, so they're covered by their own
# tests/oracle entries instead of the compile sweep.
_EXECUTING = {"stream_events_windowed", "stream_user_stats_stateful",
              "stream_dedup_events", "stream_view_purchase_join",
              "stream_session_windows", "stream_upsert_user_latest",
              "stream_static_enrich", "stream_incremental_dedup",
              "connector_roundtrip_orc_json",  # writes scratch ORC/JSON
              "dedup_clusters", "dedup_clusters_baseline",
              "dedup_star_cap_floor",  # two CC fixpoints inside the build
              "daily_sales_bucketed",  # materializes bucketed copies
              # round-6 maintenance roundtrips: stage scratch tables, run the
              # maintenance op, reduce to one eager row inside the build
              "compact_table_roundtrip", "csv_quarantine_split"}


@pytest.mark.parametrize("name", [n for n in QUERIES if n not in _EXECUTING])
def test_query_compiles_to_physical_plan(spark, name):
    df = QUERIES[name].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan  # analyzable + plannable without running


def test_register_views_covers_all_tables(spark):
    names = register_views(spark, SF_SMOKE)
    got = {r["viewName"] for r in spark.sql("SHOW VIEWS").collect()}
    assert set(names) <= got


# Plans allowed to contain a BroadcastNestedLoopJoin: the brute-force scorers
# broadcast a small query/total side by design (documented baselines).
_BNLJ_OK = {"priority_revenue_share", "similarity_topk", "similarity_topk_ivf",
            "embedding_near_dup_baseline",
            # 1-row scalar sides (funnel stage counts, RFM max-date +
            # percentile thresholds, tf-idf df/N scalars) broadcast-crossed
            # into a parallel scan
            "funnel_conversion", "rfm_segments", "tfidf_search",
            "doc_rarity_score", "embedding_gram_baseline",
            "embedding_pca_variance", "event_type_drift",
            # r17: min/max split into a keyless 1-row aggregate (string
            # min/max cannot hash-aggregate; keeping them in the wide agg
            # dragged the multi-distinct Expand into SortAggregate) —
            # recombined with the distinct-count row by the same
            # broadcast-1-row cross
            "profile_orders",
            # recall-floor queries: capped exact ground-truth side is a
            # broadcast all-pairs scorer by design
            "dedup_minhash_recall", "dedup_simhash_complete",
            "dedup_cross_corpus_recall",
            "embedding_near_dup_recall", "similarity_lsh_recall",
            "similarity_ivf_recall",
            # 1-row contract scalars (counts/anchor-miss/cap-state aggs)
            # broadcast-crossed into the one-row result
            "embedding_star_cap_floor", "linkage_block_cap_floor"}
# Plans allowed to contain Python nodes: the declared Arrow-batched paths.
_PYTHON_OK = {"user_value_ewma", "multimodal_meta", "multimodal_features",
              "doc_chunks_udtf",
              # SRP signature generation is a per-VECTOR matrix product
              # (vectorized numpy, O(n) rows); all per-PAIR work stays JVM
              "embedding_near_dup", "embedding_near_dup_recall",
              # SimHash majority vote is a per-DOCUMENT numpy kernel over
              # JVM-computed token hashes; banding/Hamming stay JVM
              "dedup_simhash_docs", "dedup_simhash_complete",
              # per-partition BLAS Gram partials + one d x d eigensolve over
              # a fixed d(d+1)/2-cell reduce
              "embedding_pca_variance",
              # capped + uncapped embedding_near_dup runs (SRP signature UDF
              # + grouped Gram verify) + a fresh SRP pass for anchor truth
              "embedding_star_cap_floor"}


_NODE_COL = re.compile(r"^[ :+\-]*")


def _executed_plan(spark, name: str) -> str:
    return (
        QUERIES[name]
        .builder(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def _plan_node_counts(plan: str) -> dict[str, int]:
    """Shuffle (``Exchange``, word-boundary match) and ``ArrowEvalPython``
    nodes of an executed-plan string, counting each distinct
    ``InMemoryRelation`` subtree once. Every scan of a persisted frame prints
    the frame's whole cached plan, but that plan runs once per query; two
    copies are the same subtree once expression ids (``#123``) are
    normalised."""
    lines = plan.splitlines()
    seen: set[str] = set()
    kept = []
    i = 0
    while i < len(lines):
        col = _NODE_COL.match(lines[i]).end()
        if lines[i][col:].startswith("InMemoryRelation"):
            end = i + 1
            while end < len(lines) and _NODE_COL.match(lines[end]).end() > col:
                end += 1
            subtree = lines[i:end]
            key = "\n".join(re.sub(r"#\d+", "#", ln[col:]) for ln in subtree)
            if key in seen:
                i = end
                continue
            seen.add(key)
        kept.append(lines[i])
        i += 1
    text = "\n".join(kept)
    return {
        "Exchange": len(re.findall(r"\bExchange\b", text)),
        "ArrowEvalPython": text.count("ArrowEvalPython"),
    }


@pytest.mark.parametrize("name", [n for n in QUERIES if n not in _EXECUTING])
def test_plan_has_no_scale_red_flags(spark, name):
    plan = _executed_plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name}: unplanned cartesian"
    if name not in _BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join"
    if name not in _PYTHON_OK:
        for node in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert node not in plan, f"{name}: unexpected Python node {node}"
    assert "PartitionBy: []" not in plan, f"{name}: unpartitioned window"


# Shuffle budgets: measured Exchange-node counts, each persisted subtree
# counted once (BroadcastExchange does NOT count — broadcasts are the CHEAP
# exchange) for representative plans. Every groupBy/join shuffle at 100 TB
# is the cost that matters; a regression that adds an exchange to a
# one-shuffle mart (e.g. losing a co-partitioning reuse, or a broadcast
# demoting to a shuffle join) must fail loudly here, not show up as a
# silent 2× in the bench. Budgets are upper bounds at SF_SMOKE with AQE on.
_SHUFFLE_BUDGETS = {
    "pricing_summary": 1,       # one partial+final agg
    "daily_sales": 1,           # join broadcast, one agg shuffle
    "customer_metrics": 1,      # window + agg reuse ONE shuffle
    "nation_revenue": 1,
    "daily_sales_bucketed": 1,
    "dedup_exact_docs": 1,
    "olist_daily_sales": 1,     # items⋈orders broadcast + one agg
    "text_quality": 0,          # pure scan-side expressions
    "doc_fingerprints": 0,
    "similarity_topk": 1,       # broadcast queries; one top-k window
    "asof_events_orders": 1,    # union co-partition trick: one shuffle
    "corpus_boilerplate_removal": 3,  # explode agg + membership join + regroup
    # persisted multi-consumer intermediates stop each branch replaying the
    # scan+agg chain, and window-over-group-key shapes collapsed into single
    # aggregates
    "doc_rarity_score": 3,
    "event_type_drift": 3,
    "curate_corpus_hygiene": 4,
    "basket_pairs": 2,          # basket collect + pair agg; no self-join
    "tfidf_search": 4,
    "daily_revenue_anomaly": 3,
}


@pytest.mark.parametrize("name", sorted(_SHUFFLE_BUDGETS))
def test_plan_shuffle_budget(spark, name):
    n_exchanges = _plan_node_counts(_executed_plan(spark, name))["Exchange"]
    assert n_exchanges <= _SHUFFLE_BUDGETS[name], (
        f"{name}: {n_exchanges} shuffle exchanges, budget "
        f"{_SHUFFLE_BUDGETS[name]} — a new shuffle crept into the plan"
    )


def test_quadratic_plans_only_behind_capped_baselines(spark):
    """The scale contract for fuzzy dedup: any registered query whose plan
    does an all-pairs comparison (corpus×corpus on a constant-cardinality key
    or a broadcast nested loop over the corpus) must be tagged 'baseline' AND
    cap its input to a constant (id < 2000) so the quadratic work is bounded
    at every scale factor. Primary fuzzy-dedup queries must be LSH-tagged."""
    for name in ("dedup_ngram_jaccard_baseline", "embedding_near_dup_baseline"):
        qd = QUERIES[name]
        assert "baseline" in qd.tags, f"{name} must be tagged baseline"
        df = qd.builder(spark, SF_SMOKE)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "< 2000" in optimized, f"{name}: quadratic baseline must cap input"
    # dedup_clusters_baseline checkpoints away its lineage (iterative), so the
    # cap is asserted via its tag + the source inspection in its twin above.
    assert "baseline" in QUERIES["dedup_clusters_baseline"].tags


def test_embedding_near_dup_plan_shape(spark):
    """The group-and-verify near-dup plan: the Gram verify runs as ONE
    grouped-map Python node over the persisted band table (the signature
    UDF executes once inside it, not once per guard branch), the
    mega-bucket star tail joins are broadcast at this scale, and there is
    no cartesian/nested-loop anywhere. A regression to the per-pair
    join-verify tail would multiply FlatMapGroupsInPandas away and re-add
    ~2s at sf0.1."""
    plan = _executed_plan(spark, "embedding_near_dup")
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    # the signature UDF runs once, inside the cached band table; a guard
    # branch recomputing it would add another ArrowEvalPython
    assert _plan_node_counts(plan)["ArrowEvalPython"] == 1, plan
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"):
        assert node not in plan, f"unexpected {node} in group-and-verify plan"


def test_spread_if_narrow_only_fires_below_default_parallelism(spark):
    """spread_if_narrow must add its round-robin shuffle ONLY for
    narrow inputs (fixture files scanning as one task) — an input already
    at/above default parallelism passes through untouched, which is what
    makes the helper a no-op at real scale."""
    from etl_ecommerce_data_spark.partitioning import spread_if_narrow

    wide = spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism + 4)
    assert spread_if_narrow(wide) is wide
    narrow = spark.range(0, 1000, 1, 1)
    spread = spread_if_narrow(narrow)
    assert spread is not narrow
    assert (
        spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )
    assert sorted(r["id"] for r in spread.collect()) == list(range(1000))


def test_daily_sales_bucketed_join_has_no_exchange(spark):
    """The registered bucketed mart must actually deliver the shuffle-free
    fact-fact join: with broadcast disabled (forcing the join strategy a
    100 TB orders side would force), the SortMergeJoin reads both bucketed
    scans with NO Exchange between scan and join."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["daily_sales_bucketed"].builder(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        join_part = plan.split("SortMergeJoin")[1] if "SortMergeJoin" in plan else ""
        assert "SortMergeJoin" in plan, "bucketed join must be SMJ when broadcast is off"
        # the only Exchange allowed is AFTER the join (the groupBy on date);
        # below the SMJ there must be none
        assert "Exchange" not in join_part, "bucketed SMJ must not re-shuffle inputs"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    for name in ("dedup_minhash_docs", "dedup_clusters", "embedding_near_dup",
                 "dedup_simhash_docs"):
        assert "lsh" in QUERIES[name].tags, f"{name} must be the LSH scale path"


def test_runtime_bloom_filter_fires_at_scale_thresholds(spark):
    """100 TB posture: when a selective dim side is too big to broadcast,
    Spark's runtime bloom filter (enabled by our session defaults) must
    inject a might_contain semi-join reduction on the fact scan, so only
    candidate rows survive to the shuffle. The default application-side
    threshold (10 GB) keeps it OFF at local test scale; we lower it to the
    local equivalent of "both sides are big" and assert the injection —
    proving the session config + join shape qualify for the rewrite."""
    from etl_ecommerce_data_spark.sources.registry import load_table

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, SF_SMOKE, "lineitem")
        o = (
            load_table(spark, SF_SMOKE, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy().agg(
            F.count(F.lit(1)).alias("n")
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter not injected"
        assert "bloom_filter_agg" in plan
    finally:
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_parity_marts_broadcast_their_dims(spark):
    """Positive plan pins (not just red-flag absence): the fact-fact join
    rides one broadcast in daily_sales, and the six-table Q5-style tree
    broadcasts every dimension — zero sort-merge joins at this SF."""
    p = _executed_plan(spark, "daily_sales")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    p = _executed_plan(spark, "region_supplier_volume")
    assert p.count("BroadcastHashJoin") >= 4 and "SortMergeJoin" not in p


def test_scans_prune_columns_and_push_filters(spark):
    """Column pruning must reach the parquet scan: daily_sales reads 3 of
    lineitem's 16 columns and 2 of orders'; the join keys' null filters are
    pushed into the scan."""
    p = _executed_plan(spark, "daily_sales")
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in p
    assert "ReadSchema: struct<o_orderkey:bigint,o_orderdate:timestamp>" in p
    assert "PushedFilters: [IsNotNull(l_orderkey)]" in p
    # pricing_summary projects only the aggregate's inputs.
    p = _executed_plan(spark, "pricing_summary")
    assert "l_comment" not in p and "l_shipmode" not in p
