"""Source registry, CSV connector, and the validation stage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_ecommerce_data_spark.sources.readers import read_csv_table, write_parquet_table
from etl_ecommerce_data_spark.sources.registry import (
    OLIST_SCHEMAS,
    SYNTHETIC_SCHEMAS,
    load_table,
)
from etl_ecommerce_data_spark.validation import Expectations, ValidationError, validate

from tests.conftest import SF_SMOKE


def test_all_synthetic_tables_load_with_declared_schema(spark):
    for name in SYNTHETIC_SCHEMAS:
        df = load_table(spark, SF_SMOKE, name)
        assert df.limit(1).count() in (0, 1)
        if name == "events":  # ts converted long→timestamp post-read
            assert df.schema["ts"].dataType == T.TimestampType()


def test_unknown_table_raises(spark):
    with pytest.raises(KeyError, match="unknown table"):
        load_table(spark, SF_SMOKE, "nope")


def test_olist_schema_registry_complete():
    assert set(OLIST_SCHEMAS) == {
        "orders", "customers", "order_items", "products", "sellers",
        "order_reviews", "product_category_name_translation",
        "geolocation", "order_payments",
    }


def test_csv_roundtrip_with_declared_schema(spark, tmp_path):
    p = tmp_path / "orders.csv"
    p.write_text("order_id,customer_id,order_status\no1,c1,delivered\no2,c2,\n")
    schema = T.StructType(
        [
            T.StructField("order_id", T.StringType()),
            T.StructField("customer_id", T.StringType()),
            T.StructField("order_status", T.StringType()),
        ]
    )
    df = read_csv_table(spark, str(p), schema)
    assert df.schema == schema
    assert df.count() == 2
    out = tmp_path / "pq"
    write_parquet_table(df, str(out))
    assert spark.read.parquet(str(out)).count() == 2


def test_validate_passes_on_clean_table(spark):
    df = load_table(spark, SF_SMOKE, "customer")
    validate(
        df,
        Expectations(
            min_rows=100,
            not_null=("c_custkey", "c_name"),
            unique_key=("c_custkey",),
        ),
        "customer",
    )


def test_validate_collects_all_violations(spark):
    df = spark.createDataFrame(
        [(1, None, -5.0), (1, "b", 2.0)], "k long, name string, amount double"
    )
    with pytest.raises(ValidationError) as e:
        validate(
            df,
            Expectations(
                min_rows=10, not_null=("name",), unique_key=("k",), positive=("amount",)
            ),
            "t",
        )
    msgs = "".join(e.value.violations)
    assert "min_rows" in msgs and "NULL" in msgs and "not unique" in msgs and "non-positive" in msgs


def test_json_orc_roundtrip(spark, tmp_path):
    from pyspark.sql import types as T

    from etl_ecommerce_data_spark.sources.readers import (
        read_json_table,
        read_orc_table,
        write_json_table,
        write_orc_table,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame([(1, "a", 1.5), (2, None, 2.5)], schema)
    jp, op = str(tmp_path / "j"), str(tmp_path / "o")
    write_json_table(df, jp)
    write_orc_table(df, op)
    back_j = read_json_table(spark, jp, schema)
    back_o = read_orc_table(spark, op, schema)
    want = sorted(df.collect())
    assert sorted(back_j.collect()) == want
    assert sorted(back_o.collect()) == want
    assert back_j.schema == schema and back_o.schema == schema


def test_overwrite_partitions_touches_only_incoming(spark, tmp_path):
    from etl_ecommerce_data_spark.sources.incremental import overwrite_partitions

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("2024-01-01", 1, "old"), ("2024-01-02", 2, "old")], "d string, k long, v string"
    )
    base.write.partitionBy("d").parquet(path)
    # new batch only for day 2 → day 1 must survive untouched
    batch = spark.createDataFrame([("2024-01-02", 9, "new")], "d string, k long, v string")
    overwrite_partitions(batch, path, ["d"])
    # partition values come back type-inferred (date) → compare as strings
    got = {(str(r["d"]), r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {("2024-01-01", 1, "old"), ("2024-01-02", 9, "new")}
    # conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static") != "dynamic"
    )


def test_merge_upsert_latest_wins_and_snapshot_isolation(spark, tmp_path):
    from etl_ecommerce_data_spark.sources.incremental import merge_dataframes, merge_upsert

    current = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)], "k long, v string, ver long"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 11), (3, "c_stale", 9), (3, "c_tie", 10), (4, "d", 11)],
        "k long, v string, ver long",
    )
    merged = merge_dataframes(current, updates, ["k"], "ver")
    got = {(r["k"], r["v"]) for r in merged.collect()}
    # 2: newer update wins; 3: stale update loses, tie goes to updates; 4: insert
    assert got == {(1, "a"), (2, "b2"), (3, "c_tie"), (4, "d")}

    table = str(tmp_path / "zone" / "t.parquet")
    current.write.parquet(table)
    snap = merge_upsert(spark, table, updates, ["k"], "ver")
    assert snap != table
    assert {(r["k"], r["v"]) for r in spark.read.parquet(snap).collect()} == got
    # original table untouched (snapshot isolation)
    assert spark.read.parquet(table).count() == 3


def test_binary_file_source_feeds_media_contract(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_ecommerce_data_spark.multimodal import attach_media_columns, extract_features
    from etl_ecommerce_data_spark.sources.readers import read_binary_files

    payloads = {f"img_{i}.bin": bytes([i] * (10 + i)) for i in range(5)}
    for name, body in payloads.items():
        (tmp_path / name).write_bytes(body)
    (tmp_path / "ignore.txt").write_text("not binary payload")

    files = read_binary_files(spark, str(tmp_path), glob="*.bin")
    assert files.count() == 5
    got = {r["path"].rsplit("/", 1)[-1]: r["content"] for r in files.collect()}
    assert got == payloads
    # end-to-end into the media contract + Arrow feature extraction
    media = attach_media_columns(
        files.withColumn("fid", F.monotonically_increasing_id()),
        "fid", "content", "image/raw", "path",
    )
    feats = extract_features(media, dim=4).collect()
    assert len(feats) == 5
    assert all(len(r["feature"]) == 4 for r in feats)


def test_text_source_lines_and_whole_file(spark, tmp_path):
    from etl_ecommerce_data_spark.sources.readers import read_text_table

    (tmp_path / "a.txt").write_text("line one\nline two\n")
    (tmp_path / "b.txt").write_text("solo\n")
    lines = read_text_table(spark, str(tmp_path))
    assert sorted(r["value"] for r in lines.collect()) == ["line one", "line two", "solo"]
    docs = read_text_table(spark, str(tmp_path), whole_file=True)
    assert docs.count() == 2  # one row per file


def test_avro_connector_gated_with_clear_error(spark):
    import pytest

    from etl_ecommerce_data_spark.sources.readers import avro_available, read_avro_table

    if avro_available(spark):  # pragma: no cover - cluster with spark-avro
        pytest.skip("spark-avro deployed; gate not applicable")
    with pytest.raises(NotImplementedError, match="spark-avro"):
        read_avro_table(spark, "/tmp/whatever.avro")


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    from etl_ecommerce_data_spark.sources.bucketing import (
        read_bucketed_table,
        write_bucketed_table,
    )

    facts = spark.range(0, 10_000).selectExpr("id AS k", "id * 2 AS v")
    dims = spark.range(0, 1_000).selectExpr("id AS k", "id + 1 AS w")
    write_bucketed_table(facts, "t_facts_b", "k", 8, path=str(tmp_path / "f"))
    write_bucketed_table(dims, "t_dims_b", "k", 8, path=str(tmp_path / "d"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_bucketed_table(spark, "t_facts_b").join(
            read_bucketed_table(spark, "t_dims_b"), "k"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle on either side
        assert joined.count() == 1_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_facts_b")
        spark.sql("DROP TABLE IF EXISTS t_dims_b")


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """Storage-level partition pruning: a filter on the partition column must
    reach the scan as a PartitionFilter (pruned directories, not row filters)."""
    from pyspark.sql import functions as F

    from etl_ecommerce_data_spark.sources.readers import write_parquet_table

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 10).cast("string").alias("bucket")
    )
    path = str(tmp_path / "t")
    write_parquet_table(df, path, partition_by=["bucket"])
    back = spark.read.parquet(path).filter(F.col("bucket") == "3")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]
    assert back.count() == 100


def _bkt_ident(name: str, col: str, n: int, sort_col: str | None = None) -> str:
    """The ONE production identity-digest formula (the tests build
    warehouse dirs by hand, so they must mint names the same way — a
    re-typed copy here would silently desynchronize on a formula change)."""
    from etl_ecommerce_data_spark.sources.bucketing import bucket_identity_digest

    return bucket_identity_digest(name, col, n, sort_col)


def test_superseded_prune_spares_sorted_variants(spark, tmp_path):
    """ensure_bucketed_copy's superseded-tag prune must delete ONLY exact-tag
    siblings (stale 8-hex source tags of the same layout). The unsorted
    prefix is a strict string-prefix of every sorted variant's name, so a
    bare startswith prune silently deleted a LIVE sorted copy's warehouse
    files while its catalog entry survived (ADVICE r11, medium)."""
    import os
    import time
    from urllib.parse import urlparse

    from etl_ecommerce_data_spark.sources.bucketing import (
        _PRUNE_MIN_AGE_SEC,
        ensure_bucketed_copy,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "part.txt").write_text("v1")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    os.makedirs(wh, exist_ok=True)
    ident = _bkt_ident("tbprune", "k", 8)
    # a live SORTED variant of the same logical table (different layout,
    # shares the unsorted name as a strict string-prefix) and a genuinely
    # superseded unsorted tag (bare 8-hex remainder after the identity)
    sorted_dir = os.path.join(
        wh, f"bkt_tbprune_k_8_sk_{_bkt_ident('tbprune', 'k', 8, 'k')}_deadbeef"
    )
    stale_dir = os.path.join(wh, f"bkt_tbprune_k_8_{ident}_deadbeef")
    # a FRESH digest'd stale tag: same identity, young mtime — must be
    # spared by the age gate, since a concurrent session sharing the
    # warehouse could hold a live (session-local, hence invisible) catalog
    # entry over it
    fresh_dir = os.path.join(wh, f"bkt_tbprune_k_8_{ident}_beefdead")
    for d in (sorted_dir, stale_dir, fresh_dir):
        os.makedirs(d, exist_ok=True)
    # age the prunable dir past the gate; fresh_dir keeps its just-created
    # mtime (the session-local catalog guard can't see a concurrent
    # session's live entry, so young dirs are spared)
    old = time.time() - 2 * _PRUNE_MIN_AGE_SEC
    os.utime(stale_dir, (old, old))
    df = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
    try:
        out = ensure_bucketed_copy(spark, df, str(src), "tbprune", "k", 8)
        assert out.count() == 100
        assert os.path.isdir(sorted_dir), "live sorted variant was pruned"
        assert not os.path.isdir(stale_dir), "superseded exact-tag sibling kept"
        assert os.path.isdir(fresh_dir), (
            "fresh digest'd stale tag pruned inside the age window — a "
            "concurrent session could hold a live entry over it"
        )
    finally:
        for t in [
            r.tableName for r in spark.sql("SHOW TABLES").collect()
            if r.tableName.startswith("bkt_tbprune_")
        ]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        import shutil

        shutil.rmtree(sorted_dir, ignore_errors=True)
        shutil.rmtree(fresh_dir, ignore_errors=True)


def test_superseded_prune_spares_underscore_ambiguous_sibling(spark, tmp_path):
    """Underscores are legal in name/bucket_col, so two DIFFERENT logical
    tables can share the readable prefix string: name='amb', col='b_c', n=8
    and name='amb_b', col='c', n=8 both render 'bkt_amb_b_c_8_'. Before the
    identity digest, a live sibling of the OTHER table with a bare 8-hex tag
    was rmtree'd while its catalog entry survived (ADVICE r12). With the
    digest in the prefix, the prune must spare it — and a same-session live
    catalog entry is spared even under an exact-identity prefix match."""
    import os
    from urllib.parse import urlparse

    from etl_ecommerce_data_spark.sources.bucketing import ensure_bucketed_copy

    src = tmp_path / "src"
    src.mkdir()
    (src / "part.txt").write_text("v1")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    os.makedirs(wh, exist_ok=True)
    # the OTHER logical table's dir: same readable prefix, different
    # identity tuple → different digest → must survive the prune
    other_dir = os.path.join(
        wh, f"bkt_amb_b_c_8_{_bkt_ident('amb_b', 'c', 8)}_deadbeef"
    )
    # a superseded tag of the SAME identity → must be pruned once past the
    # age gate (a young one could back a concurrent session's live
    # entry — so the test backdates it)
    stale_dir = os.path.join(
        wh, f"bkt_amb_b_c_8_{_bkt_ident('amb', 'b_c', 8)}_deadbeef"
    )
    os.makedirs(other_dir, exist_ok=True)
    os.makedirs(stale_dir, exist_ok=True)
    import time

    from etl_ecommerce_data_spark.sources.bucketing import _PRUNE_MIN_AGE_SEC

    old = time.time() - 2 * _PRUNE_MIN_AGE_SEC
    os.utime(stale_dir, (old, old))
    df = spark.range(0, 50).selectExpr("id AS b_c", "id * 2 AS v")
    try:
        out = ensure_bucketed_copy(spark, df, str(src), "amb", "b_c", 8)
        assert out.count() == 50
        assert os.path.isdir(other_dir), "ambiguous OTHER-table sibling pruned"
        assert not os.path.isdir(stale_dir), "superseded same-identity tag kept"
        # live-catalog guard: regenerate the source so a NEW tag is minted
        # while the old table's catalog entry is still live in this session
        (src / "part.txt").write_text("v2-regenerated")
        live_old = [
            r.tableName for r in spark.sql("SHOW TABLES").collect()
            if r.tableName.startswith("bkt_amb_b_c_8_")
        ]
        assert len(live_old) == 1
        out2 = ensure_bucketed_copy(spark, df, str(src), "amb", "b_c", 8)
        assert out2.count() == 50
        assert os.path.isdir(os.path.join(wh, live_old[0])), (
            "prune deleted warehouse files out from under a live catalog entry"
        )
    finally:
        for t in [
            r.tableName for r in spark.sql("SHOW TABLES").collect()
            if r.tableName.startswith("bkt_amb_")
        ]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        import shutil

        shutil.rmtree(other_dir, ignore_errors=True)


def test_python_datasource_partitions_and_determinism(spark):
    """The custom Python DataSource: partition count drives task parallelism,
    every id appears exactly once across partitions, and two reads with the
    same seed are identical (the generation contract the oracle replays)."""
    from etl_ecommerce_data_spark.sources.pydatasource import (
        SyntheticDocsDataSource,
        SyntheticDocsReader,
        _gen_doc,
    )

    reader = SyntheticDocsReader({"n_docs": "100", "n_partitions": "7", "seed": "s"})
    parts = reader.partitions()
    assert len(parts) == 7
    covered = sorted(
        i for p in parts for i in range(p.start, p.end)
    )
    assert covered == list(range(100))
    batches = list(reader.read(parts[0]))
    assert all(type(b).__name__ == "RecordBatch" for b in batches)

    spark.dataSource.register(SyntheticDocsDataSource)
    df = (
        spark.read.format("synthetic_docs")
        .option("n_docs", "50")
        .option("n_partitions", "3")
        .option("seed", "s")
        .load()
    )
    rows = sorted(df.collect())
    assert len(rows) == 50
    assert [tuple(r) for r in rows] == [_gen_doc("s", i) for i in range(50)]
    assert df.rdd.getNumPartitions() == 3


def test_validate_on_write_observes_write_pass(spark, tmp_path):
    """validate_on_write: green contract writes and passes; a violating
    contract still writes (documented) but raises with every violation, and
    the unique_key fallback job catches duplicate keys."""
    import pytest
    from pyspark.sql import functions as F

    from etl_ecommerce_data_spark.validation import (
        Expectations,
        ValidationError,
        validate_on_write,
    )

    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 10).alias("dup_key"), F.lit(1).alias("pos")
    )
    out = str(tmp_path / "ok")
    validate_on_write(
        df,
        Expectations(min_rows=10, not_null=("id",), positive=("pos",)),
        lambda d: d.write.parquet(out),
        table="t_ok",
    )
    assert spark.read.parquet(out).count() == 100

    with pytest.raises(ValidationError) as ei:
        validate_on_write(
            df,
            Expectations(min_rows=1000, unique_key=("dup_key",)),
            lambda d: d.write.parquet(str(tmp_path / "bad")),
            table="t_bad",
        )
    msg = str(ei.value)
    assert "min_rows" in msg and "not unique" in msg


def test_events_ts_kind_adapts_to_both_parquet_encodings(spark, tmp_path):
    """The events reader must decode BOTH historical ts encodings to the same
    UTC timestamps: legacy TIMESTAMP(NANOS) (read as raw long + ns→µs divide)
    and TIMESTAMP(MICROS) (native read). Regression for the silent 1970-
    collapse when a micros file was decoded through the nanos path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_ecommerce_data_spark.sources.registry import events_ts_kind

    micros = [1704067207_179575, 1704070000_000001, 1706655432_194062]
    cols = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 20, 30], pa.int64()),
        "event_type": pa.array(["view", "cart", "purchase"]),
        "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
        "props": pa.array(["{}", "{}", "{}"]),
    }

    def write_variant(dirname, ts_arr):
        d = tmp_path / dirname
        d.mkdir()
        tbl = pa.table({"event_id": cols["event_id"], "ts": ts_arr, **{
            k: v for k, v in cols.items() if k != "event_id"}})
        pq.write_table(tbl, str(d / "events.parquet"))
        return str(d)

    nanos_dir = write_variant(
        "nanos", pa.array([m * 1000 for m in micros], pa.timestamp("ns"))
    )
    micros_dir = write_variant(
        "micros", pa.array(micros, pa.timestamp("us"))
    )
    assert events_ts_kind(spark, f"{nanos_dir}/events.parquet") == "nanos"
    micros_kind = events_ts_kind(spark, f"{micros_dir}/events.parquet")
    assert micros_kind != "nanos" and isinstance(micros_kind, T.TimestampNTZType)

    got_n = load_table(spark, nanos_dir, "events").select("event_id", "ts").collect()
    got_m = load_table(spark, micros_dir, "events").select("event_id", "ts").collect()
    assert [r["ts"] for r in got_n] == [r["ts"] for r in got_m]
    # sanity: values are the real 2024 instants, not a 1970 collapse
    assert all(r["ts"].year == 2024 for r in got_m)


def test_events_ts_kind_cache_survives_in_place_regeneration(spark, tmp_path):
    """The ts-kind probe cache must key on (path, mtime, size), not path
    alone: the driver regenerates testdata at a FIXED path between rounds
    with changing physical encodings, and a path-keyed cache in a long-lived
    session would decode the regenerated file with the stale kind (the exact
    silent-1970-corruption the probe exists to prevent)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_ecommerce_data_spark.sources.registry import events_ts_kind

    path = str(tmp_path / "events.parquet")
    micros = [1704067207_179575, 1706655432_194062]

    def write(ts_arr):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([1, 2], pa.int64()),
                    "ts": ts_arr,
                    "user_id": pa.array([10, 20], pa.int64()),
                    "event_type": pa.array(["view", "cart"]),
                    "value": pa.array([1.5, 2.5], pa.float64()),
                    "props": pa.array(["{}", "{}"]),
                }
            ),
            path,
        )

    write(pa.array([m * 1000 for m in micros], pa.timestamp("ns")))
    assert events_ts_kind(spark, path) == "nanos"

    write(pa.array(micros, pa.timestamp("us")))
    os.utime(path, (os.path.getmtime(path) + 10,) * 2)  # force distinct mtime
    regen_kind = events_ts_kind(spark, path)
    assert regen_kind != "nanos" and isinstance(regen_kind, T.TimestampNTZType)


def test_csv_quarantine_splits_malformed_rows(spark, tmp_path):
    from etl_ecommerce_data_spark.sources.readers import read_csv_with_quarantine

    p = tmp_path / "mixed.csv"
    # row 2 has a non-numeric qty, row 4 has too many columns — both must
    # land in quarantine with the raw line intact; the good side must keep
    # exactly the declared schema and the clean rows.
    p.write_text(
        "item,qty\n"
        "apple,3\n"
        "banana,not_a_number\n"
        "pear,5\n"
        'cherry,7,"extra"\n'
    )
    schema = T.StructType(
        [
            T.StructField("item", T.StringType()),
            T.StructField("qty", T.IntegerType()),
        ]
    )
    good, bad = read_csv_with_quarantine(spark, str(p), schema)
    assert good.schema == schema
    assert sorted(r["item"] for r in good.collect()) == ["apple", "pear"]
    raws = sorted(r["raw_record"] for r in bad.collect())
    assert len(raws) == 2
    assert any("not_a_number" in r for r in raws)
    assert any("cherry" in r for r in raws)


def test_csv_quarantine_clean_file_is_lossless(spark, tmp_path):
    from etl_ecommerce_data_spark.sources.readers import read_csv_with_quarantine

    p = tmp_path / "clean.csv"
    p.write_text("a,b\nx,1\ny,2\n")
    schema = T.StructType(
        [T.StructField("a", T.StringType()), T.StructField("b", T.LongType())]
    )
    good, bad = read_csv_with_quarantine(spark, str(p), schema)
    assert good.count() == 2
    assert bad.count() == 0


def test_compact_table_reduces_files_and_preserves_rows(spark, tmp_path):
    from etl_ecommerce_data_spark.sources.incremental import compact_table

    src = str(tmp_path / "frag")
    # 24 tiny files via 24-way repartition of a small table
    spark.range(0, 10_000).withColumn("k", F.pmod("id", F.lit(7))).repartition(
        24
    ).write.parquet(src)
    import os

    n_before = sum(f.endswith(".parquet") for _, _, fs in os.walk(src) for f in fs)
    assert n_before >= 24

    out, n_files = compact_table(spark, src, target_file_bytes=1 << 30)
    assert n_files == 1  # tiny table -> single file target
    n_after = sum(f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs)
    assert n_after == 1
    a = spark.read.parquet(src)
    b = spark.read.parquet(out)
    assert b.count() == a.count() == 10_000
    assert b.agg(F.sum("id")).first()[0] == a.agg(F.sum("id")).first()[0]


def test_lakehouse_lifecycle_upsert_then_compact(spark, tmp_path):
    """The maintenance ops COMPOSED, the way a real incremental table lives:
    fragmented base table → merge_upsert (new snapshot, latest-wins) →
    compact_table over the snapshot. Content must survive both rewrites
    bit-for-bit and the file count must collapse."""
    import os

    from etl_ecommerce_data_spark.sources.incremental import (
        compact_table,
        merge_upsert,
    )

    base = str(tmp_path / "t")
    spark.createDataFrame(
        [(k, 1, f"old{k}") for k in range(500)], "k long, v long, payload string"
    ).repartition(16).write.parquet(base)
    updates = spark.createDataFrame(
        [(k, 2, f"new{k}") for k in range(0, 500, 5)],
        "k long, v long, payload string",
    )
    snap = merge_upsert(spark, base, updates, ["k"], "v")
    out, _ = compact_table(spark, snap, target_file_bytes=1 << 30)
    got = {r["k"]: r for r in spark.read.parquet(out).collect()}
    assert len(got) == 500
    for k, r in got.items():
        want = ("new", 2) if k % 5 == 0 else ("old", 1)
        assert (r["payload"][:3], r["v"]) == want
    n_files = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs
    )
    assert n_files == 1


def test_compact_table_fails_loudly_on_missing_or_empty_table(spark, tmp_path):
    # ADVICE r5: sizing a remote/missing table must never silently yield 0
    # bytes and collapse to one file — absent paths and parquet-free dirs
    # both raise instead of guessing.
    from etl_ecommerce_data_spark.sources.incremental import compact_table

    with pytest.raises(Exception):  # Hadoop FileNotFoundException via py4j
        compact_table(spark, str(tmp_path / "nope"))
    empty = tmp_path / "empty_dir"
    empty.mkdir()
    (empty / "not_parquet.txt").write_text("x")
    (empty / "zero_len.parquet").touch()  # placeholder/interrupted write
    with pytest.raises(ValueError, match="no parquet bytes"):
        compact_table(spark, str(empty))


def test_compact_table_sort_within_restores_pruning_order(spark, tmp_path):
    from etl_ecommerce_data_spark.sources.incremental import compact_table

    src = str(tmp_path / "unsorted")
    spark.range(0, 1000).withColumn(
        "k", F.pmod(F.col("id") * 7919, F.lit(1000))
    ).repartition(8).write.parquet(src)
    out, _ = compact_table(spark, src, target_file_bytes=4096, sort_within_by=["k"])
    # a few-KB target forces multiple output files; each must be k-sorted inside
    import os
    import pyarrow.parquet as pq

    files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(out)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert len(files) >= 2
    for fp in files:
        ks = pq.read_table(fp, columns=["k"]).column("k").to_pylist()
        assert ks == sorted(ks)


def test_quarantine_cache_released_after_ingest(spark, tmp_path):
    from etl_ecommerce_data_spark.sources.readers import read_csv_with_quarantine

    p = tmp_path / "t.csv"
    p.write_text("a,b\nx,1\ny,oops\n")
    schema = T.StructType(
        [T.StructField("a", T.StringType()), T.StructField("b", T.LongType())]
    )
    split = read_csv_with_quarantine(spark, str(p), schema)
    good, bad = split  # tuple unpacking still supported
    assert good.count() == 1 and bad.count() == 1
    assert split._parsed.storageLevel.useMemory  # cached while in use
    # transformations over the returned frames must not orphan the cache:
    # the handle owns it, not the frames
    assert good.select("a").count() == 1
    split.release()
    assert not split._parsed.storageLevel.useMemory  # released
    split.release()  # releasing again is a safe no-op
    # context-manager form releases even when the body raises
    with pytest.raises(RuntimeError):
        with read_csv_with_quarantine(spark, str(p), schema) as cm_split:
            assert cm_split.good.count() == 1
            assert cm_split._parsed.storageLevel.useMemory
            raise RuntimeError("boom")
    assert not cm_split._parsed.storageLevel.useMemory


def test_overwrite_partitions_rejects_empty_partition_list(spark, tmp_path):
    """An empty partition_by would degrade dynamic overwrite into a silent
    full-table replace — the one behavior the function exists to prevent."""
    from etl_ecommerce_data_spark.sources.incremental import overwrite_partitions

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="whole table"):
        overwrite_partitions(df, str(tmp_path / "t"), [])


def test_merge_dataframes_reserved_columns_and_intra_batch_ties(spark):
    """Inputs carrying the internal __src/__rn names raise (they would be
    silently overwritten and dropped); duplicate (key, version) rows WITHIN
    one relation — which well-formed batches pre-deduplicate but the
    contract must not depend on — get a deterministic survivor (full-row
    total order), never a shuffle-race pick."""
    from etl_ecommerce_data_spark.sources.incremental import merge_dataframes

    cur = spark.createDataFrame([(1, "a", 10)], "k long, v string, ver long")
    bad = cur.withColumnRenamed("v", "__src")
    with pytest.raises(ValueError, match="reserves column"):
        merge_dataframes(bad, bad, ["k"], "ver")

    upd = spark.createDataFrame(
        [(1, "x", 11), (1, "y", 11)], "k long, v string, ver long"
    )
    picks = {
        merge_dataframes(cur, upd, ["k"], "ver").collect()[0]["v"]
        for _ in range(3)
    }
    assert len(picks) == 1 and picks <= {"x", "y"}


def test_merge_upsert_snapshots_are_uniquely_named_and_chainable(spark, tmp_path):
    """Each merge writes a NEW snapshot: a fixed sibling name would make
    the second merge clobber the snapshot the first one promoted — or, when
    the promoted path is merged into next, overwrite the path being read."""
    from etl_ecommerce_data_spark.sources.incremental import merge_upsert

    table = str(tmp_path / "zone" / "t.parquet")
    spark.createDataFrame([(1, "a", 10)], "k long, v string, ver long").write.parquet(table)
    upd1 = spark.createDataFrame([(1, "b", 11)], "k long, v string, ver long")
    snap1 = merge_upsert(spark, table, upd1, ["k"], "ver")
    upd2 = spark.createDataFrame([(1, "c", 12)], "k long, v string, ver long")
    snap2 = merge_upsert(spark, snap1, upd2, ["k"], "ver")  # promote-then-merge
    assert len({table, snap1, snap2}) == 3
    assert [r["v"] for r in spark.read.parquet(snap1).collect()] == ["b"]
    assert [r["v"] for r in spark.read.parquet(snap2).collect()] == ["c"]


def test_compact_table_preserves_hive_partition_layout(spark, tmp_path):
    """Compacting a hive-partitioned table with partition_by keeps the
    directory layout (pruning + overwrite_partitions composability); the
    default rewrite documents that it flattens."""
    import os

    from etl_ecommerce_data_spark.sources.incremental import compact_table

    src = str(tmp_path / "t")
    spark.createDataFrame(
        [("2024-01-0%d" % (i % 2 + 1), i) for i in range(20)], "d string, k long"
    ).repartition(8).write.partitionBy("d").parquet(src)
    out, _ = compact_table(spark, src, target_file_bytes=1 << 30, partition_by=["d"])
    dirs = {e for e in os.listdir(out) if e.startswith("d=")}
    assert dirs == {"d=2024-01-01", "d=2024-01-02"}
    got = {(str(r["d"]), r["k"]) for r in spark.read.parquet(out).collect()}
    assert got == {("2024-01-0%d" % (i % 2 + 1), i) for i in range(20)}


def test_validate_empty_table_reports_violation_not_typeerror(spark):
    """Spark's sum over zero rows is NULL; un-coalesced metrics crashed the
    comparison with a TypeError instead of reporting the actual violation."""
    empty = spark.createDataFrame([], "a long, b long")
    exp = Expectations(min_rows=1, not_null=("a",), positive=("b",), unique_key=("a",))
    with pytest.raises(ValidationError) as ei:
        validate(empty, exp, table="t")
    assert "min_rows" in str(ei.value)


def test_validate_unique_key_diagnoses_null_keys_separately(spark):
    """count_distinct excludes NULL key tuples — comparing it against the
    raw row count reported null-keyed rows as 'duplicates', sending the
    operator chasing the wrong defect."""
    df = spark.createDataFrame([(1,), (None,), (None,)], "k long")
    with pytest.raises(ValidationError) as ei:
        validate(df, Expectations(unique_key=("k",)), table="t")
    msg = str(ei.value)
    assert "NULL key" in msg and "not unique" not in msg
    dup = spark.createDataFrame([(1,), (1,), (2,)], "k long")
    with pytest.raises(ValidationError, match="not unique"):
        validate(dup, Expectations(unique_key=("k",)), table="t")


def test_quarantine_reader_rejects_reserved_options(spark, tmp_path):
    """mode/columnNameOfCorruptRecord ARE the quarantine mechanism —
    forwarding an override crashed with an opaque duplicate-kwarg
    TypeError before."""
    import pyspark.sql.types as T

    from etl_ecommerce_data_spark.sources.readers import read_csv_with_quarantine

    p = tmp_path / "x.csv"
    p.write_text("a\n1\n")
    schema = T.StructType([T.StructField("a", T.LongType())])
    with pytest.raises(ValueError, match="quarantine mechanism"):
        read_csv_with_quarantine(spark, str(p), schema, mode="FAILFAST")
