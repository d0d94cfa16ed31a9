"""SparkSession factory with scale-aware defaults.

The reference builds a bare session per script with only a JDBC jar configured
(``to_bronze.py:30-34``); it inherits Spark defaults that are wrong at scale
(200 shuffle partitions, no AQE tuning pinned, session-local timezone). This
factory pins the settings every operator in this engine assumes:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition number is always wrong, AQE re-plans from map statistics.
- UTC session timezone — required for bit-exact timestamp parity with the
  DuckDB oracle and for any cross-region cluster.
- Arrow on — every Pandas-UDF fallback path transfers columnar batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl_ecommerce_data_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    On a real cluster ``master`` comes from spark-submit; locally we default to
    ``local[N]`` where N is ``SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions default to max(cores, 8) locally — one wave, bench-tuned;
    on a cluster set it near total-executor-cores (AQE coalesces down
    from there).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Let the planner pick shuffled-hash join when its size conditions
        # hold instead of always sort-merge: the partition-local hash build
        # skips both sides' sorts (r17: the events range-join pre-pass ran
        # 2-4x faster; no benched plan regressed). Join results are
        # order-independent here — every aggregate downstream of a join uses
        # exact (decimal/int) accumulation by engine rule. Risk posture at
        # scale: a build-side partition must fit in task memory, which AQE
        # skew splitting + the engine's capped/banded join keys keep bounded.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Shared multi-consumer intermediates are persist()ed (reuse.py);
        # by default Spark pins a cached plan's output partitioning, so a
        # tiny cached aggregate keeps all `shuffle.partitions` partitions —
        # 32 near-empty blocks whose per-block compute/lock latency
        # dominates its consumers (measured r18: daily_revenue_anomaly cold
        # 7.9 s → 3.9 s with this on). Letting AQE re-optimize cached-plan
        # output partitioning only changes physical layout, never values.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # The synthetic events table stores parquet TIMESTAMP(NANOS); pinning
        # this here (not inside a reader) keeps session conf immutable during
        # query execution. load_table re-asserts it only for sessions built
        # elsewhere (e.g. the driver's own SparkSession).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # 128 MB input splits: the right granularity for wide parquet scans;
        # at 100 TB this yields ~800k tasks, which AQE coalesces post-shuffle.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Re-assert the TIMESTAMP(NANOS)-as-long parquet conf on a session the
    engine did not build (e.g. the external correctness driver's own
    SparkSession). ``get_spark`` pins this at build time, so for engine-built
    sessions this is a no-op read and the conf is never mutated mid-query;
    for foreign sessions it is set once here — the single shared site for
    every reader that touches the events parquet."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        try:  # runtime-settable SQL conf; required to scan TIMESTAMP(NANOS)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:  # pragma: no cover - only if a cluster pins it
            pass
