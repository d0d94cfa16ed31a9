"""Spark event-log reader: per-job-description stage metrics and executed
plan shapes.

The benchmark tags every Spark job with a description of the form
``<op>|<phase>|<span>`` (see ``spans.Tracer``); this module folds
the JSON event log into totals keyed by that string, so a metric can be
attributed to one op, one phase (``build`` or ``exec``) and the innermost
traced call that started the job.
"""

from __future__ import annotations

import json
import re
from collections import Counter
from dataclasses import dataclass, field

DESC = "spark.job.description"

# accumulator name in StageInfo -> StageTotals field
_ACCUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "input_rows",
    "internal.metrics.output.bytesWritten": "output_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}

PYTHON_NODE = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF")


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0
    cpu_ns: float = 0
    gc_ms: float = 0
    input_bytes: float = 0
    input_rows: float = 0
    output_bytes: float = 0
    shuffle_write_bytes: float = 0
    shuffle_read_bytes: float = 0
    spill_bytes: float = 0
    python_bytes: float = 0

    def add(self, other: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    # job description -> totals of the jobs and completed stages it tagged
    by_desc: dict[str, StageTotals] = field(default_factory=dict)
    # job description -> node-name counts of the executed (final adaptive)
    # plans of the SQL executions started under it
    plan_nodes: dict[str, Counter] = field(default_factory=dict)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk(plan: dict, out: Counter) -> None:
    out[plan.get("nodeName", "")] += 1
    for child in plan.get("children", ()):
        _walk(child, out)


def parse(lines) -> EventLog:
    """Fold event-log JSON lines (an iterable of str) into an ``EventLog``."""
    log = EventLog()
    stage_desc: dict[int, str] = {}
    exec_desc: dict[int, str] = {}
    final_plan: dict[int, dict] = {}

    def totals(desc: str) -> StageTotals:
        return log.by_desc.setdefault(desc, StageTotals())

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            totals((ev.get("Properties") or {}).get(DESC, "")).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_desc[info["Stage ID"]] = (ev.get("Properties") or {}).get(DESC, "")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            t = StageTotals(stages=1, tasks=int(info.get("Number of Tasks", 0)))
            for acc in info.get("Accumulables", ()):
                f = _ACCUMS.get(acc.get("Name"))
                if f:
                    setattr(t, f, getattr(t, f) + _num(acc.get("Value")))
            totals(stage_desc.get(info["Stage ID"], "")).add(t)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_desc[ev["executionId"]] = ev.get("description", "")
            final_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            final_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
    for eid, plan in final_plan.items():
        c = log.plan_nodes.setdefault(exec_desc.get(eid, ""), Counter())
        _walk(plan, c)
    return log
