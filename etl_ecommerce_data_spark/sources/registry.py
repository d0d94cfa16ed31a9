"""Explicit schema registry for every source table.

The reference infers schemas twice — ``inferSchema=True`` on CSV ingest
(``to_bronze.py:39``) and again from the Postgres catalog on every JDBC read
(``to_silver.py:22-30``). Inference costs a full extra pass over the data and
makes the pipeline's types an accident of the sample. Here every table has a
declared ``StructType`` contract; readers *apply* schemas, never infer them.

Two fixture families (FIXTURES.md):
  A. Olist-shape tables — the reference's own source schema (9 tables,
     ``to_bronze.py:17-27``), used by reference-parity unit tests. Timestamps
     arrive as strings; silver parses them (``to_silver.py:48-52``).
  B. Driver-generated synthetic tables (TPC-H-ish + events/documents/
     embeddings) under /root/testdata/<sf>/ — the correctness + bench corpus.
"""

from __future__ import annotations

import os

from etl_ecommerce_data_spark.session import ensure_nanos_as_long
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _struct(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


S, I, L, D, TS, DT = (
    T.StringType(),
    T.IntegerType(),
    T.LongType(),
    T.DoubleType(),
    T.TimestampType(),
    T.DateType(),
)

# --- Family B: synthetic tables (/root/testdata/<sf>/<name>.parquet) --------

SYNTHETIC_SCHEMAS: dict[str, T.StructType] = {
    "region": _struct(("r_regionkey", I), ("r_name", S)),
    "nation": _struct(("n_nationkey", I), ("n_name", S), ("n_regionkey", I)),
    "customer": _struct(
        ("c_custkey", L), ("c_name", S), ("c_nationkey", I),
        ("c_acctbal", D), ("c_mktsegment", S),
    ),
    "supplier": _struct(
        ("s_suppkey", L), ("s_name", S), ("s_nationkey", I), ("s_acctbal", D)
    ),
    "part": _struct(
        ("p_partkey", L), ("p_name", S), ("p_brand", S), ("p_type", S),
        ("p_size", I), ("p_retailprice", D),
    ),
    "orders": _struct(
        ("o_orderkey", L), ("o_custkey", L), ("o_orderstatus", S),
        ("o_totalprice", D), ("o_orderdate", TS), ("o_orderpriority", S),
    ),
    "lineitem": _struct(
        ("l_orderkey", L), ("l_partkey", L), ("l_suppkey", L),
        ("l_linenumber", I), ("l_quantity", D), ("l_extendedprice", D),
        ("l_discount", D), ("l_tax", D), ("l_returnflag", S),
        ("l_linestatus", S), ("l_shipdate", TS),
    ),
    # events.ts encoding varies by testdata generation: legacy files store
    # parquet TIMESTAMP(NANOS) (Spark rejects it — [PARQUET_TYPE_ILLEGAL] —
    # so we read raw long nanos via spark.sql.legacy.parquet.nanosAsLong and
    # divide), newer files store TIMESTAMP(MICROS) (native read). The
    # declared ts type here is the legacy long; ``load_table`` probes the
    # actual file per (path, mtime, size) (``events_ts_kind``) and swaps in the
    # timestamp variant when the file is micros — both paths normalize to a
    # session-TZ (UTC) TimestampType column with identical values, matching
    # DuckDB's read of the same file.
    "events": _struct(
        ("event_id", L), ("ts", L), ("user_id", L), ("event_type", S),
        ("value", D), ("props", S),
    ),
    "documents": _struct(
        ("doc_id", L), ("text", S), ("lang", S), ("source", S), ("n_chars", L)
    ),
    "embeddings": _struct(
        ("vec_id", L), ("embedding", T.ArrayType(T.FloatType())), ("label", I)
    ),
}

# --- Family A: Olist-shape tables (reference source schema) -----------------
# File→table mapping mirrors to_bronze.py:17-27. Timestamp columns are STRING
# at the bronze boundary by design; the silver transforms parse them.

OLIST_SCHEMAS: dict[str, T.StructType] = {
    "orders": _struct(
        ("order_id", S), ("customer_id", S), ("order_status", S),
        ("order_purchase_timestamp", S), ("order_approved_at", S),
        ("order_delivered_carrier_date", S),
        ("order_delivered_customer_date", S),
        ("order_estimated_delivery_date", S),
    ),
    "customers": _struct(
        ("customer_id", S), ("customer_unique_id", S),
        ("customer_zip_code_prefix", I), ("customer_city", S),
        ("customer_state", S),
    ),
    "order_items": _struct(
        ("order_id", S), ("order_item_id", I), ("product_id", S),
        ("seller_id", S), ("shipping_limit_date", S), ("price", D),
        ("freight_value", D),
    ),
    "products": _struct(
        ("product_id", S), ("product_category_name", S),
        ("product_name_lenght", I), ("product_description_lenght", I),
        ("product_photos_qty", I), ("product_weight_g", I),
        ("product_length_cm", I), ("product_height_cm", I),
        ("product_width_cm", I),
    ),
    "sellers": _struct(
        ("seller_id", S), ("seller_zip_code_prefix", I), ("seller_city", S),
        ("seller_state", S),
    ),
    "order_reviews": _struct(
        ("review_id", S), ("order_id", S), ("review_score", I),
        ("review_comment_title", S), ("review_comment_message", S),
        ("review_creation_date", S), ("review_answer_timestamp", S),
    ),
    "product_category_name_translation": _struct(
        ("product_category_name", S), ("product_category_name_english", S)
    ),
    "geolocation": _struct(
        ("geolocation_zip_code_prefix", I), ("geolocation_lat", D),
        ("geolocation_lng", D), ("geolocation_city", S),
        ("geolocation_state", S),
    ),
    "order_payments": _struct(
        ("order_id", S), ("payment_sequential", I), ("payment_type", S),
        ("payment_installments", I), ("payment_value", D),
    ),
}


_EVENTS_TS_KIND: dict[tuple[str, float, int], "str | T.DataType"] = {}


def events_ts_kind(spark: SparkSession, events_path: str) -> "str | T.DataType":
    """``'nanos'`` (legacy TIMESTAMP(NANOS): read as raw long + ns→µs
    divide) or the inferred timestamp type for TIMESTAMP(MICROS) files
    (native timestamp read).

    Probed through Spark's own schema inference — works on any
    Spark-readable filesystem, no separate footer reader: with the
    nanosAsLong conf set, a NANOS column infers LongType while a MICROS
    column infers a timestamp type. Cached per (path, mtime, size) — NOT per
    path alone: the test fixtures are regenerated in place between rounds
    with changing physical encodings, and a path-keyed cache in a long-lived
    session would decode a regenerated file with a stale kind (silent
    timestamp corruption). For a DIRECTORY-shaped table the stat covers the
    leaf data files, not the directory inode — overwriting a part file's
    BYTES under the same name changes the file's mtime but not the
    directory's, so a directory-level stat would serve the stale kind.
    Non-local paths (stat fails) probe fresh each call; the probe is a
    driver-side footer read, not a scan."""
    try:
        st = os.stat(events_path)
        if os.path.isdir(events_path):
            leaf_mtime, leaf_size = st.st_mtime, 0
            for root, _dirs, files in os.walk(events_path):
                for f in files:
                    if f.endswith(".parquet"):
                        fst = os.stat(os.path.join(root, f))
                        leaf_mtime = max(leaf_mtime, fst.st_mtime)
                        leaf_size += fst.st_size
            key = (events_path, leaf_mtime, leaf_size)
        else:
            key = (events_path, st.st_mtime, st.st_size)
    except OSError:
        key = None
    # the conf assertion runs UNCONDITIONALLY: the kind cache is
    # process-global but the nanosAsLong conf is per-session, so a cache
    # hit from a DIFFERENT session (spark.newSession(), the driver's bare
    # session) must still set this session's conf or its read of a nanos
    # file throws PARQUET_TYPE_ILLEGAL at scan time
    ensure_nanos_as_long(spark)
    if key is None or key not in _EVENTS_TS_KIND:
        dt = spark.read.parquet(events_path).schema["ts"].dataType
        kind = "nanos" if isinstance(dt, T.LongType) else dt
        if key is None:
            return kind
        _EVENTS_TS_KIND[key] = kind
    return _EVENTS_TS_KIND[key]


def events_read_schema(kind) -> T.StructType:
    """The declared events schema for one ts encoding (see SYNTHETIC_SCHEMAS
    comment): ts is a raw long for 'nanos'; otherwise ``kind`` IS the
    inferred timestamp type (NTZ for isAdjustedToUTC=false files, LTZ for
    adjusted ones) — declaring the inferred type avoids any reinterpretation
    shift, and ``events_normalize_ts`` casts both to session-TZ timestamps."""
    ts_type = T.LongType() if kind == "nanos" else kind
    return T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", ts_type)
            for f in SYNTHETIC_SCHEMAS["events"].fields
        ]
    )


def events_normalize_ts(df: DataFrame, kind: str) -> DataFrame:
    """Normalize either encoding to a session-TZ TimestampType ``ts`` with
    microsecond values identical to DuckDB's read of the same file (ns→µs is
    exact integer truncation; NTZ→LTZ is value-preserving in the pinned UTC
    session)."""
    if kind == "nanos":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table as parquet with its declared schema.

    Parquet is splittable + columnar: the scan parallelizes by row-group and
    Catalyst pushes filters/pruning into it — unlike the reference's
    single-partition JDBC scans (``to_silver.py:22-30``, no partitionColumn).
    The declared schema makes column pruning exact and catches drift at read
    time instead of deep inside a job.
    """
    if name not in SYNTHETIC_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(SYNTHETIC_SCHEMAS)}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        kind = events_ts_kind(spark, path)
        df = spark.read.schema(events_read_schema(kind)).parquet(path)
        return events_normalize_ts(df, kind)
    return spark.read.schema(SYNTHETIC_SCHEMAS[name]).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    picked = names or tuple(SYNTHETIC_SCHEMAS)
    return {n: load_table(spark, sf_dir, n) for n in picked}
