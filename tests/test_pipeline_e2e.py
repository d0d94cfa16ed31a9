"""End-to-end medallion pipeline test on dirty Olist-shape CSVs: every silver
cleaning rule and every gold mart's semantics verified on hand-computable
fixtures (FIXTURES.md §A dirty-data requirements)."""

from __future__ import annotations

import shutil
import threading
import time
import warnings

import pytest

from etl_ecommerce_data_spark.pipeline import OLIST_FILES, run_pipeline
from etl_ecommerce_data_spark.validation import ValidationError

ORDERS = """order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at,order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date
o1,c1,delivered,2017-10-02 10:56:33,2017-10-03 10:00:00,2017-10-04 10:00:00,2017-10-10 10:00:00,2017-10-08 00:00:00
o1,c1,delivered,2017-10-02 10:56:33,2017-10-03 10:00:00,2017-10-04 10:00:00,2017-10-10 10:00:00,2017-10-08 00:00:00
o2,c2,,2017-10-03 08:00:00,2017-10-03 09:00:00,2017-10-04 08:00:00,2017-10-05 08:00:00,2017-10-09 00:00:00
o3,c3,shipped,not-a-timestamp,,,,
"""

CUSTOMERS = """customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state
c1,u1b,1001, São Paulo ,sp
c1,u1a,1001, São Paulo ,sp
c2,u2,2002,rio de janeiro,RJ
c3,,3003,,mg
"""

ORDER_ITEMS = """order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value
o1,1,p1,s1,2017-10-05 00:00:00,100.00,10.00
o1,2,p2,s2,2017-10-05 00:00:00,50.00,5.00
o2,1,p1,s1,2017-10-06 00:00:00,200.00,20.00
o2,2,p2,s1,2017-10-06 00:00:00,-30.00,2.00
o3,1,p1,s2,2017-10-07 00:00:00,80.00,-1.00
"""

PRODUCTS = """product_id,product_category_name,product_name_lenght,product_description_lenght,product_photos_qty,product_weight_g,product_length_cm,product_height_cm,product_width_cm
p1,moveis_decoracao,10,100,1,500,10,10,10
p2,esporte_lazer,8,80,2,300,8,8,8
p3,,5,50,1,100,5,5,5
"""

SELLERS = """seller_id,seller_zip_code_prefix,seller_city,seller_state
s1,1111, Campinas ,sp
s2,2222,curitiba,PR
"""

REVIEWS = """review_id,order_id,review_score,review_comment_title,review_comment_message,review_creation_date,review_answer_timestamp
r1,o1,5,good,nice,2017-10-11 00:00:00,2017-10-12 00:00:00
r1,o1,5,good,nice,2017-10-11 00:00:00,2017-10-12 00:00:00
r2,o2,,,,2017-10-06 00:00:00,2017-10-07 00:00:00
"""

TRANSLATION = """product_category_name,product_category_name_english
moveis_decoracao,furniture_decor
"""

FILES = {
    "olist_orders_dataset.csv": ORDERS,
    "olist_customers_dataset.csv": CUSTOMERS,
    "olist_order_items_dataset.csv": ORDER_ITEMS,
    "olist_products_dataset.csv": PRODUCTS,
    "olist_sellers_dataset.csv": SELLERS,
    "olist_order_reviews_dataset.csv": REVIEWS,
    "product_category_name_translation.csv": TRANSLATION,
}


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    csv_dir = tmp_path_factory.mktemp("csv")
    lake_dir = tmp_path_factory.mktemp("lake")
    for name, body in FILES.items():
        (csv_dir / name).write_text(body)
    result = run_pipeline(spark, str(csv_dir), str(lake_dir))
    return spark, str(lake_dir), result


def _gold(lake, name):
    spark, lake_dir, _ = lake
    return spark.read.parquet(f"{lake_dir}/gold/{name}")


def test_zones_materialized(lake):
    _, _, result = lake
    assert set(result["bronze"]) >= {"orders", "customers", "order_items", "products", "sellers", "order_reviews"}
    assert set(result["silver"]) >= {"orders", "customers", "order_items", "products", "sellers", "order_reviews"}
    assert set(result["gold"]) == {
        "daily_sales", "customer_metrics", "product_performance",
        "seller_performance", "satisfaction_metrics", "delivery_performance",
    }


def test_silver_orders_dedup_and_fill(lake):
    spark, lake_dir, _ = lake
    orders = spark.read.parquet(f"{lake_dir}/silver/orders")
    rows = {r["order_id"]: r for r in orders.collect()}
    assert len(rows) == 3  # o1 exact-dup collapsed
    assert rows["o2"]["order_status"] == "pending"  # null fill
    assert rows["o3"]["order_purchase_timestamp"] is None  # invalid ts → NULL


def test_silver_customers_dedup_drop_normalize(lake):
    spark, lake_dir, _ = lake
    cust = {r["customer_id"]: r for r in spark.read.parquet(f"{lake_dir}/silver/customers").collect()}
    assert set(cust) == {"c1", "c2"}  # c3 dropped (null unique_id/city)
    assert cust["c1"]["customer_unique_id"] == "u1a"  # deterministic survivor
    assert cust["c1"]["customer_city"] == "são paulo"
    assert cust["c1"]["customer_state"] == "SP"


def test_silver_items_filters_and_casts(lake):
    spark, lake_dir, _ = lake
    items = spark.read.parquet(f"{lake_dir}/silver/order_items")
    assert items.count() == 3  # -30 price and -1 freight rows filtered
    assert items.schema["price"].dataType.simpleString() == "decimal(10,2)"


def test_silver_products_translation(lake):
    spark, lake_dir, _ = lake
    prods = {r["product_id"]: r["product_category_name_english"]
             for r in spark.read.parquet(f"{lake_dir}/silver/products").collect()}
    assert prods == {"p1": "furniture_decor", "p2": "esporte_lazer", "p3": "unknown"}


def test_gold_daily_sales_fanout_count(lake):
    rows = {str(r["date"]): r for r in _gold(lake, "daily_sales").collect()}
    # o1 has two surviving items on 2017-10-02: fan-out count = 2 (reference
    # semantics: counts order-item rows, to_gold.py:61)
    d1 = rows["2017-10-02"]
    assert d1["total_orders"] == 2
    assert float(d1["total_revenue"]) == 150.0
    assert float(d1["total_freight"]) == 15.0
    d2 = rows["2017-10-03"]
    assert d2["total_orders"] == 1
    assert float(d2["total_revenue"]) == 200.0


def test_gold_customer_metrics(lake):
    rows = {r["customer_id"]: r for r in _gold(lake, "customer_metrics").collect()}
    assert rows["c1"]["total_orders"] == 2
    assert float(rows["c1"]["total_spent"]) == 150.0
    assert rows["c1"]["customer_lifetime_days"] == 0
    assert rows["c1"]["first_purchase_date"] == "2017-10-02"
    # c3 was dropped in silver → its order o3 contributes no customer row
    assert set(rows) == {"c1", "c2"}


def test_gold_product_and_seller_marts(lake):
    prod = {r["product_id"]: r for r in _gold(lake, "product_performance").collect()}
    assert prod["p1"]["total_orders"] == 2  # o1 item + o2 item
    assert prod["p1"]["product_category_name_english"] == "furniture_decor"
    sell = {r["seller_id"]: r for r in _gold(lake, "seller_performance").collect()}
    assert sell["s1"]["total_orders"] == 2
    assert sell["s1"]["seller_state"] == "SP"
    # avg delivery time for s1 (reference metric, to_gold.py:103-104):
    # o1 purchased 10-02 delivered 10-10 → 8 days; o2 10-03 → 10-05 → 2 days
    assert abs(sell["s1"]["avg_delivery_time"] - 5.0) < 1e-9


def test_gold_satisfaction_dedups_reviews(lake):
    rows = {r["order_id"]: r for r in _gold(lake, "satisfaction_metrics").collect()}
    assert rows["o1"]["total_reviews"] == 1  # r1 dup collapsed in silver
    assert rows["o1"]["avg_review_score"] == 5.0
    assert rows["o2"]["avg_review_score"] == 0.0  # null score filled with 0


def test_gold_delivery_performance_conditional_count(lake):
    rows = {r["order_status"]: r for r in _gold(lake, "delivery_performance").collect()}
    assert rows["delivered"]["late_deliveries"] == 1  # o1: +2 days vs estimate
    assert rows["delivered"]["avg_delivery_delay"] == 2.0
    assert rows["pending"]["late_deliveries"] == 0  # o2 early (-4)
    assert rows["shipped"]["avg_delivery_delay"] is None  # null dates propagate


def test_validation_catches_broken_gold(lake, tmp_path):
    spark, _, _ = lake
    from etl_ecommerce_data_spark.validation import Expectations, validate

    empty = spark.createDataFrame([], "date date, total_orders long")
    with pytest.raises(ValidationError, match="min_rows"):
        validate(empty, Expectations(min_rows=1), "gold.daily_sales")


def test_bronze_ingest_quarantine_mode(spark, tmp_path):
    from etl_ecommerce_data_spark.pipeline import bronze_ingest

    csv_dir = tmp_path / "csv"
    lake_dir = tmp_path / "lake"
    csv_dir.mkdir()
    for name, body in FILES.items():
        (csv_dir / name).write_text(body)
    # Corrupt the orders file: one row with too many columns.
    orders_path = csv_dir / "olist_orders_dataset.csv"
    orders_path.write_text(ORDERS.rstrip("\n") + "\nbad_row,with,too,many,columns,for,the,orders,schema,x,y,z\n")

    ingested = bronze_ingest(spark, str(csv_dir), str(lake_dir), quarantine=True)
    assert "orders" in ingested

    good = spark.read.parquet(f"{lake_dir}/bronze/orders")
    n_clean_rows = ORDERS.strip().count("\n")  # minus header
    assert good.count() == n_clean_rows
    quarantined = spark.read.parquet(f"{lake_dir}/bronze/_quarantine/orders")
    assert quarantined.count() == 1
    assert "bad_row" in quarantined.first()["raw_record"]


@pytest.mark.parametrize("quarantine", [False, True])
def test_bronze_schemas_are_the_declared_ones(spark, tmp_path, quarantine):
    # silver_refine reads bronze with OLIST_SCHEMAS instead of inferring
    # them; that is sound only while bronze is written from exactly those
    from etl_ecommerce_data_spark.pipeline import bronze_ingest
    from etl_ecommerce_data_spark.sources.registry import OLIST_SCHEMAS

    for name, body in FILES.items():
        (tmp_path / name).write_text(body)
    lake_dir = tmp_path / "lake"
    ingested = bronze_ingest(spark, str(tmp_path), str(lake_dir), quarantine=quarantine)
    assert ingested == [t for f, t in OLIST_FILES.items() if f in FILES]

    def fields(schema):  # names and types: nullability ignored, as parquet reads drop it
        return [(f.name, f.dataType) for f in schema]

    for t in ingested:
        got = spark.read.parquet(str(lake_dir / "bronze" / t)).schema
        assert fields(got) == fields(OLIST_SCHEMAS[t]), t


@pytest.fixture
def bronze_lake(lake, tmp_path):
    """A private copy of the module lake's bronze zone, for silver runs that
    must not touch the shared lake."""
    _, lake_dir, _ = lake
    shutil.copytree(f"{lake_dir}/bronze", tmp_path / "bronze")
    return str(tmp_path)


def test_silver_jobs_inherit_callers_local_properties(spark, bronze_lake):
    from etl_ecommerce_data_spark.pipeline import silver_refine

    sc = spark.sparkContext
    # the scheduler's job counter: every job the call starts, in any thread
    next_job_id = sc._jsc.sc().dagScheduler().nextJobId
    first = next_job_id()
    sc.setJobGroup("medallion-props", "silver_refine local-property test")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error", UserWarning)
            done = silver_refine(spark, bronze_lake)
    finally:
        sc._jsc.clearJobGroup()
    assert done == ["orders", "customers", "order_items", "sellers", "order_reviews", "products"]
    started = set(range(first, next_job_id()))
    assert started
    # job-start events reach the status tracker through the listener bus
    deadline = time.monotonic() + 30
    while True:
        grouped = set(sc.statusTracker().getJobIdsForGroup("medallion-props"))
        if started <= grouped or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    assert started <= grouped, sorted(started - grouped)


def test_silver_failure_is_raised_unwrapped_after_all_threads_end(
    spark, bronze_lake, monkeypatch
):
    import etl_ecommerce_data_spark.pipeline as P

    def boom(df):
        raise ValueError("boom")

    monkeypatch.setitem(P.SILVER_TRANSFORMS, "customers", boom)
    before = threading.active_count()
    with pytest.raises(ValueError, match="^boom$"):
        P.silver_refine(spark, bronze_lake)
    assert threading.active_count() == before
