"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import eventlog  # noqa: E402
from workloads import MEDALLION_ETL, SETUP_ONCE, WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _stage(stage_id: int, tasks: int, accums: dict[str, float]) -> dict:
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": stage_id,
            "Number of Tasks": tasks,
            "Accumulables": [
                {"ID": i, "Name": k, "Value": str(v)} for i, (k, v) in enumerate(accums.items())
            ],
        },
    }


def _canned_log() -> list[str]:
    build = "similarity_topk_lsh|build|plans.build"
    run = "similarity_topk_lsh|exec|exec.action"
    plan = {
        "nodeName": "AdaptiveSparkPlan",
        "children": [
            {"nodeName": "Exchange", "children": [
                {"nodeName": "ArrowEvalPython", "children": [
                    {"nodeName": "InMemoryTableScan", "children": []}]}]},
        ],
    }
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {eventlog.DESC: build}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {eventlog.DESC: build}},
        _stage(0, 4, {"internal.metrics.executorRunTime": 120,
                      "internal.metrics.input.bytesRead": 1000,
                      "internal.metrics.input.recordsRead": 10}),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {eventlog.DESC: run}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "description": run,
         "sparkPlanInfo": {"nodeName": "AdaptiveSparkPlan", "children": []}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 3, "sparkPlanInfo": plan},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {eventlog.DESC: run}},
        _stage(1, 8, {"internal.metrics.executorRunTime": 300,
                      "internal.metrics.executorCpuTime": 2e8,
                      "internal.metrics.shuffle.write.bytesWritten": 2048,
                      "data sent to Python workers": 500,
                      "data returned from Python workers": 250,
                      "number of output rows": 99}),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
         "Properties": {eventlog.DESC: run}},
        _stage(2, 2, {"internal.metrics.shuffle.read.remoteBytesRead": 1000,
                      "internal.metrics.shuffle.read.localBytesRead": 48,
                      "internal.metrics.diskBytesSpilled": 7}),
    ]
    return [json.dumps(e) for e in events] + [""]


def test_eventlog_parser_on_canned_log():
    log = eventlog.parse(_canned_log())
    build = log.by_desc["similarity_topk_lsh|build|plans.build"]
    run = log.by_desc["similarity_topk_lsh|exec|exec.action"]
    assert (build.jobs, build.stages, build.tasks) == (1, 1, 4)
    assert (build.run_ms, build.input_bytes, build.input_rows) == (120, 1000, 10)
    assert (run.jobs, run.stages, run.tasks) == (1, 2, 10)
    assert run.run_ms == 300 and run.cpu_ns == 2e8
    assert run.shuffle_write_bytes == 2048 and run.shuffle_read_bytes == 1048
    assert run.spill_bytes == 7 and run.python_bytes == 750
    nodes = log.plan_nodes["similarity_topk_lsh|exec|exec.action"]
    # the final adaptive plan replaces the initial one
    assert nodes["AdaptiveSparkPlan"] == 1
    assert nodes["Exchange"] == 1 and nodes["InMemoryTableScan"] == 1
    assert sum(v for k, v in nodes.items() if eventlog.PYTHON_NODE.search(k)) == 1


def test_frozen_op_lists_exist_in_the_engine():
    from etl_ecommerce_data_spark import pipeline
    from etl_ecommerce_data_spark.plans.queries import QUERIES

    for name, ops in WORKLOADS.items():
        assert len(ops) == len(set(ops)), name
        if ops is MEDALLION_ETL:
            assert all(callable(getattr(pipeline, op)) for op in ops)
        else:
            assert set(ops) <= set(QUERIES), set(ops) - set(QUERIES)
    assert set(WORKLOADS["gold_marts"]).isdisjoint(WORKLOADS["llm_curation"])
    for name in SETUP_ONCE:
        assert "setup_once" in QUERIES[name].tags


def test_generator_is_deterministic(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    assert datagen.write_star(str(a), 7) == datagen.write_star(str(b), 7)
    datagen.write_olist_csvs(str(a / "csv"), 7)
    datagen.write_olist_csvs(str(b / "csv"), 7)
    for d in ("", "csv"):
        cmp = filecmp.dircmp(a / d, b / d)
        assert not cmp.diff_files and not cmp.left_only and not cmp.right_only
        names = [f for f in os.listdir(a / d) if os.path.isfile(a / d / f)]
        _, mismatch, errors = filecmp.cmpfiles(a / d, b / d, names, shallow=False)
        assert not mismatch and not errors
    datagen.write_star(str(c), 8)
    assert not filecmp.cmp(a / "lineitem.parquet", c / "lineitem.parquet", shallow=False)


def test_olist_inputs_carry_the_dirty_rows():
    t = datagen.olist_tables(3)
    assert t["orders"].duplicated().any()
    assert t["orders"].order_status.isna().any()
    assert t["customers"].customer_id.duplicated().any()
    assert (t["order_items"].price <= 0).any() and (t["order_items"].freight_value < 0).any()
    assert t["customers"].customer_city.str.startswith(" ").any()
    assert t["order_reviews"].review_score.isna().any()


def test_metric_names_and_units_match_benchmark_json():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in declared]
    assert len(names) == len(set(names))
    for m in declared:
        assert NAME.fullmatch(m["name"]) and len(m["name"]) <= 64
        assert run.UNITS[m["name"]] == m["unit"]
    assert set(names) == set(run.UNITS)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def test_tracer_patches_every_binding_and_restores_it():
    from etl_ecommerce_data_spark import reuse
    from etl_ecommerce_data_spark.plans import queries
    from spans import Tracer

    described = []
    fake = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(setJobDescription=described.append)
    )
    original = reuse.shared
    tracer = Tracer(fake)
    tracer.install()
    try:
        assert queries.shared is reuse.shared is not original
        tracer.op, tracer.phase = "q", "build"
        with tracer.span("plans", "plans.build"):
            with tracer.span("reuse", "reuse.shared"):
                assert described[-1] == "q|build|reuse.shared"
            assert described[-1] == "q|build|plans.build"
        assert [(s.name, s.parent) for s in tracer.spans] == [
            ("plans.build", None), ("reuse.shared", 0)
        ]
    finally:
        tracer.uninstall()
    assert queries.shared is reuse.shared is original
    assert not tracer._patched


def test_simhash_check_recomputes_every_pair():
    import pandas as pd

    from checks import _simhash_pairs

    # doc 1 and 2 differ in 2 bits, doc 3 in 4 bits from doc 1, doc 4 is -1
    fp = pd.DataFrame({"doc_id": [1, 2, 3, 4], "h": [0, 0b101, 0b1111, -1]})
    good = pd.DataFrame({"doc_a": [1, 2], "doc_b": [2, 3], "hamming": [2, 2]})
    assert _simhash_pairs(good, fp, max_hamming=3) is None
    assert _simhash_pairs(good.iloc[:1], fp, max_hamming=3)  # a pair is missing
    wrong = good.assign(hamming=[1, 2])
    assert _simhash_pairs(wrong, fp, max_hamming=3)
    extra = pd.concat([good, pd.DataFrame({"doc_a": [1], "doc_b": [3], "hamming": [4]})])
    assert _simhash_pairs(extra, fp, max_hamming=3)
