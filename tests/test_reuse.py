"""Persisted intermediates live for one query: starting the next registered
builder or scoped operator releases every frame the previous one shared, so
no invocation reads another's materialized blocks."""

from __future__ import annotations

from etl_ecommerce_data_spark import reuse
from etl_ecommerce_data_spark.operators import dedup as DD
from etl_ecommerce_data_spark.plans.queries import QUERIES
from etl_ecommerce_data_spark.sources.registry import load_table

from tests.conftest import SF_SMOKE


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _run(spark, name: str) -> set[int]:
    """Build and collect ``name``; the RDD ids it persisted."""
    before = _persisted(spark)
    QUERIES[name].builder(spark, SF_SMOKE).collect()
    return _persisted(spark) - before


def test_next_query_releases_previous_querys_persists(spark):
    first = _run(spark, "event_type_drift")
    assert first, "event_type_drift shares an intermediate"
    QUERIES["daily_revenue_anomaly"].builder(spark, SF_SMOKE)
    assert not first & _persisted(spark)


def test_reinvoking_a_builder_releases_its_previous_persists(spark):
    first = _run(spark, "event_type_drift")
    assert first
    _run(spark, "event_type_drift")
    assert not first & _persisted(spark)


def test_release_skips_frames_whose_session_stopped():
    from py4j.protocol import Py4JError

    class StoppedFrame:
        def unpersist(self, blocking):
            raise Py4JError("SparkContext has been shut down")

    reuse._LIVE.append(StoppedFrame())
    assert reuse.scoped(lambda: "built")() == "built"
    assert not reuse._LIVE


def test_reinvoking_an_operator_releases_its_previous_persists(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    before = _persisted(spark)
    DD.simhash_pairs(docs, max_hamming=3).collect()
    first = _persisted(spark) - before
    assert first, "simhash_pairs shares its chunk table"
    DD.simhash_pairs(docs, max_hamming=3).collect()
    assert not first & _persisted(spark)


def test_nested_scoped_call_keeps_the_outer_calls_frames(spark):
    @reuse.scoped
    def inner():
        return spark.range(3)

    @reuse.scoped
    def outer():
        df = reuse.shared(spark.range(5))
        inner()
        return df

    df = outer()
    assert df.is_cached
    inner()
    assert not df.is_cached
