"""SQL entry point: the engine's tables as temp views + ``spark.sql`` queries.

The reference's only query language is the DataFrame API (SURVEY §3: no SQL
string anywhere). Exposing the same tables through ``spark.sql`` is free in
Spark — identical Catalyst plans, one more surface users expect. Queries
written here in ANSI SQL double as their own DuckDB oracle text (same table
names, same semantics), which pins Spark SQL's dialect behavior against an
independent engine.

Concurrency contract: temp views are SESSION-global, so one SparkSession
serves ONE sf_dir at a time — concurrent ``run_sql`` calls with different
sf_dirs on a shared session would race on the view names (last registration
wins mid-query). Use separate sessions (``spark.newSession()``) for
concurrent multi-dataset SQL.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from etl_ecommerce_data_spark.sources.registry import SYNTHETIC_SCHEMAS, load_table

# Last sf_dir registered, stored in the SESSION'S OWN runtime conf: repeat
# run_sql calls on the same dataset skip the all-table re-registration —
# including the events ts-kind probe — instead of paying it per query.
# Runtime conf is per-SparkSession, exactly the scope of the temp views it
# describes. A module-level dict keyed by id(spark) (the previous shape)
# was wrong twice over: ids are reused after GC, so a fresh session
# allocated at a dead session's address silently skipped registration and
# every query failed TABLE_OR_VIEW_NOT_FOUND; and the dict grew one entry
# per session forever. The marker value MUST be the single last sf_dir,
# not a (session, sf_dir) set: a set-shaped cache would serve STALE views
# when calls alternate between datasets (dirA, dirB, dirA would leave
# dirB's views live on the third call).
_REGISTERED_KEY = "spark.etl_ecommerce_data_spark.sql.registered_sf_dir"


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every PRESENT engine table as a temp view named exactly like
    the table, so ``spark.sql`` queries read the same data as the DataFrame
    API. Tables whose parquet file is absent from ``sf_dir`` are skipped —
    eagerly loading all of them would make a pure-lineitem query fail on a
    fixture subset that never references the missing table — and their
    views are DROPPED: a leftover view from a previously-registered dataset
    would otherwise serve the WRONG dataset's rows silently (a query that
    references an absent table must fail loudly with
    TABLE_OR_VIEW_NOT_FOUND, not answer from stale data)."""
    registered = []
    for name in SYNTHETIC_SCHEMAS:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
            registered.append(name)
        else:
            spark.catalog.dropTempView(name)
    spark.conf.set(_REGISTERED_KEY, sf_dir)
    return registered


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    if spark.conf.get(_REGISTERED_KEY, None) != sf_dir:
        register_views(spark, sf_dir)
        return spark.sql(query)
    try:
        return spark.sql(query)
    except AnalysisException as exc:
        # A table file that APPEARED in sf_dir after the first registration
        # (register_views skips absent files) has no view yet on a cache
        # hit. On a missing relation, re-register once if some engine
        # table's parquet is present but unregistered; anything else
        # re-raises. A typo'd relation pays one check per engine table
        # (and at most one re-registration) before failing the same way.
        missing = "TABLE_OR_VIEW_NOT_FOUND" in f"{exc.getCondition()} {exc}"
        if not missing or not any(
            os.path.exists(os.path.join(sf_dir, f"{n}.parquet"))
            and not spark.catalog.tableExists(n)
            for n in SYNTHETIC_SCHEMAS
        ):
            raise
        register_views(spark, sf_dir)
        return spark.sql(query)
