"""Scale-adaptive partitioning helpers.

``spread_if_narrow`` widens an input that scans with fewer partitions than
the cluster's default parallelism (a single-row-group parquet file scans as
ONE task, so every per-row map downstream of it — tokenize, hash, 64-perm
MinHash signatures, shingle explodes — serializes on one core). At real
scale a scan already yields far more splits than cores, the condition is
false, and no shuffle is added — the adaptive guard is what distinguishes
this from a constant tuned for local mode (guide: repartition immediately
after an unsplittable read; derive partitioning from the input, not a
constant).

Only worth it where the downstream per-row work dominates the one narrow
shuffle it adds: measured at sf0.1, plain map-side-combinable aggregates
LOSE from spreading (pricing_summary 0.7 → 1.0 s) while banding/tokenize
paths and row-multiplying Expands (rollup, cube, multi-distinct) win.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_if_narrow(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism ONLY when its
    physical scan has fewer partitions (explicit count, so AQE never
    re-coalesces it away). No-op at real scale by construction."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df
