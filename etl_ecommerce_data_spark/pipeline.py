"""The medallion pipeline: bronze → silver → gold over Olist-shape tables.

This is the reference's entire data-processing surface (to_bronze.py /
to_silver.py / to_gold.py, ~304 LoC) re-expressed as a library of named
transforms over a Parquet lakehouse:

- bronze: CSV ingest with *declared* schemas (vs inferSchema, to_bronze.py:39)
  into parquet (vs single-connection JDBC overwrite, to_bronze.py:41-50).
- silver: one cleaning function per table, exactly the reference's semantics
  (to_silver.py:44-103) — timestamp parsing, dedup, null policies, string
  normalization, decimal casts, translation join.
- gold: the six analytics marts (to_gold.py:56-132) with their quirks intact
  (fan-out counts, window-derived group keys, conditional aggregation).
- validation: real expectations per zone replacing the echo stub
  (dags/dag.py:73-77).

Orchestration runs the zones one after another (the Airflow DAG at
dags/dag.py:80 is bronze ≫ silver ≫ gold ≫ validate — incidental to
capability). Errors are fail-fast, unlike the reference's print-and-continue
(to_silver.py:105-106).

Scale posture: silver tables are persisted parquet (splittable scans), the
tiny translation dim is broadcast, and the six gold marts re-read silver from
parquet instead of recomputing the cleaning lineage per mart (the reference
re-ran every JDBC scan per query, to_gold.py:25-33).

Within a zone the tables are independent, so each zone writes them at the
same time, one thread per table, at most 9 (`_run_per_table`), where the
reference wrote one at a time (to_bronze.py:56-58, to_silver.py:44-103,
to_gold.py:56-132). On small inputs most of a table's job is query planning
and a single-task straggler tail, which then overlap instead of queueing. At
100 TB each table's job fills the cluster by itself and Spark's FIFO
scheduler queues the other tables' tasks behind it; the overlap still covers
the planning and the tails. Silver reads bronze with the declared
`OLIST_SCHEMAS` bronze was written from, so no table re-reads parquet
footers in a schema-inference job, and gold's unique-key read-back reads
its mart with the mart's own schema for the same reason.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from etl_ecommerce_data_spark.operators.cleaning import (
    cast_money,
    dedup_by_key,
    dedup_exact_rows,
    drop_null_rows,
    fill_nulls,
    filter_non_negative,
    filter_positive,
    normalize_strings,
    parse_timestamps,
    translate_with_fallback,
)
from etl_ecommerce_data_spark.sources.readers import (
    read_csv_table,
    read_parquet_table,
    write_parquet_table,
)
from etl_ecommerce_data_spark.sources.registry import OLIST_SCHEMAS
from etl_ecommerce_data_spark.validation import (
    Expectations,
    validate,
    validate_on_write,
)

# ---------------------------------------------------------------------------
# Per-table concurrency, shared by the three zones
# ---------------------------------------------------------------------------


def _run_per_table(spark: SparkSession, jobs: dict[str, Callable[[], None]]) -> list[str]:
    """Run every table's job on its own thread and return the table names in
    ``jobs``' order. Each job does all of its table's work (read, transform,
    write, validation). Every thread starts with a copy of the caller's local
    properties (job group, description, scheduler pool) and session tags, so
    the tables' Spark jobs stay attributable to, and cancellable with, the
    caller's. All jobs are waited for; the first failure in ``jobs``' order
    is then re-raised as is."""
    if not jobs:
        return []
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        # one wrapper per job: the wrapper's copy of the properties becomes
        # its thread's own, so a job's setJobDescription stays in its thread
        futures = [pool.submit(inheritable_thread_target(spark)(job)) for job in jobs.values()]
    for f in futures:
        f.result()
    return list(jobs)


# ---------------------------------------------------------------------------
# Bronze (to_bronze.py:17-27,56-58 — registry-driven ingest loop)
# ---------------------------------------------------------------------------

# file → table mapping, mirroring to_bronze.py:17-27
OLIST_FILES = {
    "olist_customers_dataset.csv": "customers",
    "olist_geolocation_dataset.csv": "geolocation",
    "olist_order_items_dataset.csv": "order_items",
    "olist_order_payments_dataset.csv": "order_payments",
    "olist_order_reviews_dataset.csv": "order_reviews",
    "olist_orders_dataset.csv": "orders",
    "olist_products_dataset.csv": "products",
    "olist_sellers_dataset.csv": "sellers",
    "product_category_name_translation.csv": "product_category_name_translation",
}


def bronze_ingest(
    spark: SparkSession, csv_dir: str, lake_dir: str, quarantine: bool = False
) -> list[str]:
    """CSV → bronze parquet for every declared source table present.

    With ``quarantine=True``, malformed CSV rows are split out per table to
    ``bronze/_quarantine/<table>`` (raw offending lines) instead of being
    silently nulled into the load — the failure mode the reference's
    inference-based ingest (`to_bronze.py:39`) cannot even detect.
    """
    from etl_ecommerce_data_spark.sources.readers import read_csv_with_quarantine

    def ingest(table: str, path: str) -> None:
        if quarantine:
            # context-manager form: the split's backing cache is released
            # even when a write throws — a bare release() after the writes
            # would leak the cached CSV parse for the session on the error
            # path of a multi-table ingest
            with read_csv_with_quarantine(spark, path, OLIST_SCHEMAS[table]) as split:
                write_parquet_table(
                    split.bad, os.path.join(lake_dir, "bronze", "_quarantine", table)
                )
                write_parquet_table(split.good, os.path.join(lake_dir, "bronze", table))
        else:
            df = read_csv_table(spark, path, OLIST_SCHEMAS[table])
            write_parquet_table(df, os.path.join(lake_dir, "bronze", table))

    jobs = {}
    for file_name, table in OLIST_FILES.items():
        path = os.path.join(csv_dir, file_name)
        if not os.path.exists(path):
            # allow fixture subsets; the reference hard-failed per-table then
            # printed-and-continued (to_bronze.py:52-53) — we skip explicitly.
            continue
        jobs[table] = functools.partial(ingest, table, path)
    return _run_per_table(spark, jobs)


# ---------------------------------------------------------------------------
# Silver transforms (to_silver.py:44-103), one named function per table
# ---------------------------------------------------------------------------

ORDER_TS_COLS = [
    "order_purchase_timestamp",
    "order_approved_at",
    "order_delivered_carrier_date",
    "order_delivered_customer_date",
    "order_estimated_delivery_date",
]


def silver_orders(df: DataFrame) -> DataFrame:
    """to_silver.py:46-55: 5× timestamp parse, full-row dedup, status fill."""
    df = parse_timestamps(df, ORDER_TS_COLS)
    df = dedup_exact_rows(df)
    return fill_nulls(df, {"order_status": "pending"})


def silver_customers(df: DataFrame) -> DataFrame:
    """to_silver.py:58-64: key dedup, null-row drop, city/state normalize.
    Key dedup is deterministic here (survivor = min customer_unique_id),
    unlike the reference's arbitrary dropDuplicates survivor."""
    df = dedup_by_key(df, ["customer_id"], order_by=["customer_unique_id"])
    df = drop_null_rows(df)
    return normalize_strings(
        df, lower=["customer_city"], upper=["customer_state"],
        trim=["customer_city", "customer_state"],
    )


def silver_order_items(df: DataFrame) -> DataFrame:
    """to_silver.py:67-74: shipping ts parse, DECIMAL(10,2) casts, filters."""
    df = parse_timestamps(df, ["shipping_limit_date"])
    df = cast_money(df, ["price", "freight_value"], 10, 2)
    df = filter_positive(df, "price")
    return filter_non_negative(df, "freight_value")


def silver_products(df: DataFrame, translation: DataFrame) -> DataFrame:
    """to_silver.py:77-86: key dedup, translation left-join + coalesce + fill."""
    df = dedup_by_key(df, ["product_id"], order_by=["product_category_name"])
    return translate_with_fallback(
        df, translation, "product_category_name",
        "product_category_name_english", "product_category_name",
    )


def silver_sellers(df: DataFrame) -> DataFrame:
    """to_silver.py:89-94: key dedup, city/state normalize."""
    df = dedup_by_key(df, ["seller_id"], order_by=["seller_zip_code_prefix"])
    return normalize_strings(
        df, lower=["seller_city"], upper=["seller_state"],
        trim=["seller_city", "seller_state"],
    )


def silver_reviews(df: DataFrame) -> DataFrame:
    """to_silver.py:97-103: date parses, review_id dedup, score fill 0."""
    df = parse_timestamps(df, ["review_creation_date", "review_answer_timestamp"])
    df = dedup_by_key(df, ["review_id"], order_by=["order_id"])
    return fill_nulls(df, {"review_score": 0})


SILVER_TRANSFORMS = {
    "orders": silver_orders,
    "customers": silver_customers,
    "order_items": silver_order_items,
    "sellers": silver_sellers,
    "order_reviews": silver_reviews,
    # products handled separately (needs the translation dim)
}


def silver_refine(spark: SparkSession, lake_dir: str) -> list[str]:
    bronze = os.path.join(lake_dir, "bronze")
    silver = os.path.join(lake_dir, "silver")

    def rd(table: str) -> DataFrame:
        # bronze was written from exactly these schemas (plain and
        # quarantine ingest alike), so declaring them skips inference
        return read_parquet_table(spark, os.path.join(bronze, table), OLIST_SCHEMAS[table])

    def refine(table: str, fn: Callable[[DataFrame], DataFrame]) -> None:
        write_parquet_table(fn(rd(table)), os.path.join(silver, table))

    def refine_products() -> None:
        out = silver_products(rd("products"), rd("product_category_name_translation"))
        write_parquet_table(out, os.path.join(silver, "products"))

    jobs = {
        table: functools.partial(refine, table, fn)
        for table, fn in SILVER_TRANSFORMS.items()
        if os.path.exists(os.path.join(bronze, table))
    }
    if all(
        os.path.exists(os.path.join(bronze, t))
        for t in ("products", "product_category_name_translation")
    ):
        jobs["products"] = refine_products
    return _run_per_table(spark, jobs)


# ---------------------------------------------------------------------------
# Gold marts (to_gold.py:56-132), preserving the reference's semantics
# ---------------------------------------------------------------------------


def gold_daily_sales(order_items: DataFrame, orders: DataFrame) -> DataFrame:
    """to_gold.py:57-66. NOTE count('order_id') counts order-ITEM rows (the
    join fans out per item) — intentional reference semantics, not a bug."""
    j = order_items.join(orders, "order_id")
    return (
        j.withColumn("date", F.to_date("order_purchase_timestamp"))
        .groupBy("date")
        .agg(
            F.count("order_id").alias("total_orders"),
            F.sum("price").alias("total_revenue"),
            F.avg("price").alias("avg_order_value"),
            F.sum("freight_value").alias("total_freight"),
        )
    )


def gold_customer_metrics(
    order_items: DataFrame, orders: DataFrame, customers: DataFrame
) -> DataFrame:
    """to_gold.py:69-81: window min/max purchase ts as group keys."""
    j = order_items.join(orders, "order_id").join(customers, "customer_id")
    w = Window.partitionBy("customer_id")
    j = j.withColumn(
        "first_purchase_date",
        F.date_format(F.min("order_purchase_timestamp").over(w), "yyyy-MM-dd"),
    ).withColumn(
        "last_purchase_date",
        F.date_format(F.max("order_purchase_timestamp").over(w), "yyyy-MM-dd"),
    )
    return j.groupBy(
        "customer_id", "customer_state", "first_purchase_date", "last_purchase_date"
    ).agg(
        F.count("order_id").alias("total_orders"),
        F.sum("price").alias("total_spent"),
        F.avg("price").alias("avg_order_value"),
        F.datediff(
            F.max("order_purchase_timestamp"), F.min("order_purchase_timestamp")
        ).alias("customer_lifetime_days"),
    )


def gold_product_performance(order_items: DataFrame, products: DataFrame) -> DataFrame:
    """to_gold.py:84-91."""
    j = order_items.join(products, "product_id")
    return j.groupBy("product_id", "product_category_name_english").agg(
        F.count("order_id").alias("total_orders"),
        F.sum("price").alias("total_revenue"),
        F.avg("price").alias("avg_price"),
        F.sum("freight_value").alias("total_freight"),
    )


def gold_seller_performance(
    order_items: DataFrame, sellers: DataFrame, orders: DataFrame
) -> DataFrame:
    """to_gold.py:94-105: items ⋈ sellers ⋈ orders; avg delivery time
    (delivered − purchase, the reference's metric at to_gold.py:103-104)."""
    j = order_items.join(sellers, "seller_id").join(orders, "order_id")
    return j.groupBy("seller_id", "seller_state").agg(
        F.count("order_id").alias("total_orders"),
        F.sum("price").alias("total_revenue"),
        F.avg("price").alias("avg_order_value"),
        F.avg(
            F.datediff(
                F.col("order_delivered_customer_date"), F.col("order_purchase_timestamp")
            )
        ).alias("avg_delivery_time"),
    )


def gold_satisfaction_metrics(reviews: DataFrame, orders: DataFrame) -> DataFrame:
    """to_gold.py:108-115: per-order review aggregation."""
    j = reviews.join(orders, "order_id")
    return (
        j.withColumn("review_date", F.date_format("review_creation_date", "yyyy-MM-dd"))
        .groupBy("order_id", "review_date")
        .agg(
            F.avg("review_score").alias("avg_review_score"),
            F.count("review_id").alias("total_reviews"),
        )
    )


def gold_delivery_performance(orders: DataFrame) -> DataFrame:
    """to_gold.py:118-131: delivery delay vs estimate, conditional late count."""
    df = orders.withColumn(
        "delivery_delay",
        F.datediff(
            F.col("order_delivered_customer_date"), F.col("order_estimated_delivery_date")
        ),
    ).withColumn(
        "actual_delivery_days",
        F.datediff(
            F.col("order_delivered_customer_date"), F.col("order_purchase_timestamp")
        ),
    )
    return df.groupBy("order_status").agg(
        F.count("order_id").alias("total_orders"),
        F.avg("delivery_delay").alias("avg_delivery_delay"),
        F.avg("actual_delivery_days").alias("avg_delivery_days"),
        F.sum(F.when(F.col("delivery_delay") > 0, 1).otherwise(0)).alias("late_deliveries"),
    )


def gold_build(spark: SparkSession, lake_dir: str) -> list[str]:
    silver = os.path.join(lake_dir, "silver")
    gold = os.path.join(lake_dir, "gold")

    def rd(name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(silver, name))

    marts: dict[str, DataFrame] = {}
    have = {t for t in ["orders", "customers", "order_items", "products", "sellers", "order_reviews"] if os.path.exists(os.path.join(silver, t))}
    if {"order_items", "orders"} <= have:
        items, orders = rd("order_items"), rd("orders")
        marts["daily_sales"] = gold_daily_sales(items, orders)
        marts["delivery_performance"] = gold_delivery_performance(orders)
        if "customers" in have:
            marts["customer_metrics"] = gold_customer_metrics(items, orders, rd("customers"))
        if "products" in have:
            marts["product_performance"] = gold_product_performance(items, rd("products"))
        if "sellers" in have:
            marts["seller_performance"] = gold_seller_performance(items, rd("sellers"), orders)
        if "order_reviews" in have:
            marts["satisfaction_metrics"] = gold_satisfaction_metrics(rd("order_reviews"), orders)

    def write(name: str, df: DataFrame) -> None:
        path = os.path.join(gold, name)
        exp = GOLD_EXPECTATIONS.get(name)
        if exp is not None:
            # Validation metrics ride the write job (Observation API): the
            # gold zone is checked without re-reading it — validate_gold
            # remains available for re-validating an existing lake.
            # read_back: the unique-key follow-up scans the just-written
            # mart, with its known schema (no inference job), instead of
            # re-executing the whole gold build plan
            validate_on_write(
                df, exp, lambda d: write_parquet_table(d, path),
                table=f"gold.{name}",
                read_back=lambda: spark.read.schema(df.schema).parquet(path),
            )
        else:
            write_parquet_table(df, path)

    _run_per_table(spark, {name: functools.partial(write, name, df) for name, df in marts.items()})
    return sorted(marts)


# ---------------------------------------------------------------------------
# Orchestration + validation (replaces dags/dag.py:80 + the echo stub)
# ---------------------------------------------------------------------------

GOLD_EXPECTATIONS = {
    "daily_sales": Expectations(min_rows=1, not_null=("date",), positive=("total_orders",)),
    "customer_metrics": Expectations(min_rows=1, unique_key=("customer_id",)),
    "product_performance": Expectations(min_rows=1, not_null=("product_id",)),
    "seller_performance": Expectations(min_rows=1, not_null=("seller_id",)),
    "satisfaction_metrics": Expectations(min_rows=1, not_null=("order_id",)),
    "delivery_performance": Expectations(min_rows=1, not_null=("order_status",)),
}


def validate_gold(spark: SparkSession, lake_dir: str) -> None:
    gold = os.path.join(lake_dir, "gold")
    for name, exp in GOLD_EXPECTATIONS.items():
        path = os.path.join(gold, name)
        if os.path.exists(path):
            validate(spark.read.parquet(path), exp, table=f"gold.{name}")


def run_pipeline(spark: SparkSession, csv_dir: str, lake_dir: str) -> dict[str, list[str]]:
    """bronze ≫ silver ≫ gold, fail-fast. Gold expectations are enforced
    DURING the gold writes (validate_on_write — metrics observed on the write
    job, no re-read); ``validate_gold`` stays available to re-check a lake
    that was written elsewhere."""
    return {
        "bronze": bronze_ingest(spark, csv_dir, lake_dir),
        "silver": silver_refine(spark, lake_dir),
        "gold": gold_build(spark, lake_dir),
    }
