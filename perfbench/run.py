"""Benchmark of the engine's three workloads, one command.

    python3 perfbench/run.py --workload gold_marts --seed 1 --seconds 10 --trace 0

Each run, inside a fresh directory under ``.perfbench_runs/``:

1. set-up (``setup_s``, from process start): generate the inputs from
   ``--seed``, start the Spark session (``get_spark``), warm the JVM and the
   Python workers, build the ``setup_once`` layouts of the workload;
2. one timed pass: one client in a closed loop runs the workload's ops once
   each, in a fixed order. A query op is ``builder()`` plus collecting its
   result; a pipeline op is one zone builder. Each op is timed on its first
   execution in the session (see README.md, warm-up policy). ``--seconds``
   is accepted but does not decide what is timed: every run times exactly
   one pass, so a faster engine is measured the same way as a slower one;
3. the pass's outputs are checked outside the timer (``checks.py``);
4. with ``--trace 1`` the pass is traced (spans plus Spark's event log)
   and the per-layer metrics are computed from it.

The last line of standard output is one JSON object: ``correct``,
``attempted`` and ``failed`` ops, and the metrics (end-to-end ones with
``--trace 0``, per-layer ones with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time
from collections import Counter, defaultdict

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
MB = 1e6

sys.path.insert(0, ROOT)

from workloads import SETUP_ONCE, WORKLOADS  # noqa: E402


# --- process-tree memory ------------------------------------------------------

def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, from /proc, with
    pages shared between them counted once (the sum of their Pss): forked
    Python workers share most of their pages with the daemon that forked
    them, and a child the JVM spawns shares the JVM's until it execs."""
    children = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(pid))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak of ``tree_rss_bytes(os.getpid())`` while running."""

    def __init__(self, interval: float = 0.1):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


@contextlib.contextmanager
def _span(tracer, layer: str, name: str, phase: str = "exec"):
    """A tracer span in the given phase, or nothing when not tracing."""
    if tracer is None:
        yield
        return
    tracer.phase = phase
    with tracer.span(layer, name):
        yield


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# --- one run ------------------------------------------------------------------

class Bench:
    def __init__(self, workload: str, seed: int, trace: bool, run_dir: str):
        self.workload = workload
        self.ops = WORKLOADS[workload]
        self.pipeline = workload == "medallion_etl"
        self.seed = seed
        self.trace = trace
        self.dir = run_dir
        self.lake = os.path.join(run_dir, "lake")
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}
        self.layer: dict[str, float] = {}
        for sub in ("local", "tmp", "warehouse", "derby", "events"):
            os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
        os.environ.update(
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
            TMPDIR=os.path.join(run_dir, "tmp"),
            SPARK_GRAFT_CPUS=str(self.cores),
            PYSPARK_PYTHON=sys.executable,
            # no /tmp/hsperfdata_<user> files from the JVMs spark-submit starts
            JAVA_TOOL_OPTIONS=" ".join(
                x for x in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if x
            ),
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
            ),
        )
        tempfile.tempdir = os.path.join(run_dir, "tmp")

    # -- set-up ----------------------------------------------------------------
    def _conf(self) -> dict[str, str]:
        tmp = os.path.join(self.dir, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.local.dir": os.path.join(self.dir, "local"),
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={os.path.join(self.dir, 'derby')} -Djava.io.tmpdir={tmp}"
            ),
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self) -> float:
        """Inputs, session, warm-up and layouts; returns seconds since
        process start."""
        import datagen
        from etl_ecommerce_data_spark.plans.queries import QUERIES
        from etl_ecommerce_data_spark.session import get_spark

        tg = time.perf_counter()
        self.data_dir = os.path.join(self.dir, "data")
        if self.pipeline:
            self.input_bytes = datagen.write_olist_csvs(self.data_dir, self.seed)
        else:
            self.input_bytes = datagen.write_star(self.data_dir, self.seed)
        t1 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self._conf())
        t2 = time.perf_counter()
        self._warm()
        t3 = time.perf_counter()
        for name in SETUP_ONCE:
            if name in self.ops:
                QUERIES[name].builder(self.spark, self.data_dir)
        t4 = time.perf_counter()
        self.layer.update({
            "session.gen_s": t1 - tg,
            "session.start_s": t2 - t1,
            "session.warm_s": t3 - t2,
            "session.layout_s": t4 - t3,
        })
        return t4 - T_START

    def _warm(self) -> None:
        """JVM/codegen and Python-worker warm-up, independent of the op list."""
        from pyspark.sql.functions import pandas_udf

        spark = self.spark
        noop = lambda df: df.write.mode("overwrite").format("noop").save()  # noqa: E731
        noop(spark.range(200_000).selectExpr("id % 97 AS k", "id").groupBy("k").count())
        ident = pandas_udf(lambda s: s, "long")
        noop(spark.range(32).repartition(self.cores).select(ident("id")))

    def teardown(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.failures.setdefault(op, why[:500])

    # -- ops -------------------------------------------------------------------
    def run_op(self, op: str, tracer=None):
        """One op; a query op returns its collected output."""
        if tracer is not None:
            tracer.op = op
        if self.pipeline:
            import etl_ecommerce_data_spark.pipeline as P

            args = (
                (self.spark, self.data_dir, self.lake) if op == "bronze_ingest"
                else (self.spark, self.lake)
            )
            with _span(tracer, "exec", "exec.action"):
                getattr(P, op)(*args)
            return None
        from etl_ecommerce_data_spark.plans.queries import QUERIES

        with _span(tracer, "plans", "plans.build", "build"):
            df = QUERIES[op].builder(self.spark, self.data_dir)
        with _span(tracer, "exec", "exec.action"):
            return df.toPandas()

    def timed_pass(self, tracer=None) -> list[float]:
        """One pass, each op once in order; returns the ops' wall times and
        keeps their outputs for ``check_outputs``."""
        times = []
        self.outputs = {}
        for op in self.ops:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                out = self.run_op(op, tracer)
            except Exception as e:  # counted, and the pass goes on
                self.fail(op, f"raised {type(e).__name__}: {e}")
                out = None
            times.append(time.perf_counter() - t0)
            if out is not None:
                self.outputs[op] = out
            if tracer is not None:
                self._after_traced_op()
        if self.pipeline:
            self.lake_ratio = dir_bytes(self.lake) / self.input_bytes
        return times

    def check_outputs(self) -> None:
        """Check the pass's outputs, outside the timed region."""
        import checks

        if self.pipeline:
            if self.failures:
                return
            import pandas as pd

            gold = os.path.join(self.lake, "gold")
            bad = []
            for mart, want in checks.reference_gold(self.data_dir).items():
                err = checks.frames_match(pd.read_parquet(os.path.join(gold, mart)), want)
                if err:
                    bad.append(f"{mart}: {err}")
            if bad:
                self.fail("gold_build", "; ".join(bad))
            return
        from etl_ecommerce_data_spark.plans.queries import QUERIES
        from etl_ecommerce_data_spark.testing import duckdb_connection

        con = duckdb_connection(self.data_dir)
        try:
            for op, pdf in self.outputs.items():
                q = QUERIES[op]
                if q.oracle:
                    err = checks.oracle_check(pdf, con, q.oracle)
                else:
                    err = checks.approx_check(op, pdf, con, self.spark, self.data_dir)
                if err:
                    self.fail(op, err)
        finally:
            con.close()

    # -- traced run --------------------------------------------------------------
    def _after_traced_op(self) -> None:
        """Persisted RDDs after the op: the new ones' sizes, and how many live."""
        jsc = self.spark.sparkContext._jsc
        for info in jsc.sc().getRDDStorageInfo():
            if info.id() not in self._seen_rdds:
                self._seen_rdds.add(info.id())
                self._persist["mem"] += info.memSize()
                self._persist["disk"] += info.diskSize()
        self._persist["live"] = jsc.getPersistentRDDs().size()

    def traced_pass(self) -> list[float]:
        from spans import Tracer

        self.tracer = Tracer(self.spark)
        self._persist = Counter()
        self._seen_rdds = set()
        self.tracer.install()
        try:
            times = self.timed_pass(self.tracer)
        finally:
            self.tracer.uninstall()
        self.spark.sparkContext.setJobDescription(None)
        return times

    def layer_metrics(self, times: list[float]) -> dict:
        import eventlog
        from spans import top_level

        (path,) = glob.glob(os.path.join(self.dir, "events", "*"))
        with open(path) as f:
            log = eventlog.parse(f)
        spans = self.tracer.spans

        def desc_parts(desc: str):
            """``[op, phase, span]`` of a job the traced pass started, else None."""
            parts = desc.split("|")
            return parts if len(parts) == 3 else None

        every, execd, build_jobs, valid_jobs = (eventlog.StageTotals() for _ in range(4))
        for desc, t in log.by_desc.items():
            parts = desc_parts(desc)
            if parts is None:
                continue
            every.add(t)
            if parts[1] == "exec":
                execd.add(t)
            else:
                build_jobs.add(t)
            if parts[2].startswith("validation."):
                valid_jobs.add(t)
        nodes = Counter()
        for desc, c in log.plan_nodes.items():
            parts = desc_parts(desc)
            if parts is not None and parts[1] == "exec":
                nodes.update(c)

        def total(pred) -> float:
            return sum(s.s for s in spans if pred(s))

        exec_by_op = Counter()
        for s in spans:
            if s.name == "exec.action":
                exec_by_op[s.op] += s.s
        exec_s = sum(exec_by_op.values())
        shared = top_level(spans, "reuse")
        by_id = {s.id: s for s in spans}
        m = {
            "sources.load_s": sum(
                s.s for s in top_level(spans, "sources") if "write" not in s.name
            ),
            "sources.input_mb": every.input_bytes / MB,
            "sources.input_rows": every.input_rows,
            "sources.write_s": total(lambda s: s.name == "sources.write_parquet_table"),
            "sources.output_mb": every.output_bytes / MB,
            "plans.build_s": total(lambda s: s.name == "plans.build"),
            "plans.build_jobs": build_jobs.jobs,
            "plans.exchanges": nodes["Exchange"],
            "plans.jobs": every.jobs,
            "plans.stages": every.stages,
            "plans.tasks": every.tasks,
            "exec.s": exec_s,
            "exec.executor_run_s": execd.run_ms / 1e3,
            "exec.executor_cpu_s": execd.cpu_ns / 1e9,
            "exec.gc_s": execd.gc_ms / 1e3,
            "exec.core_busy_ratio": execd.run_ms / 1e3 / (exec_s * self.cores) if exec_s else 0.0,
            "exec.shuffle_write_mb": execd.shuffle_write_bytes / MB,
            "exec.shuffle_read_mb": execd.shuffle_read_bytes / MB,
            "exec.spill_mb": execd.spill_bytes / MB,
            "functions.python_nodes": sum(
                v for k, v in nodes.items() if eventlog.PYTHON_NODE.search(k)
            ),
            "functions.python_mb": every.python_bytes / MB,
            "reuse.shared_calls": len(shared),
            "reuse.scans_per_persist": nodes["InMemoryTableScan"] / len(shared) if shared else 0.0,
            "reuse.persist_mem_mb": self._persist["mem"] / MB,
            "reuse.persist_disk_mb": self._persist["disk"] / MB,
            "reuse.live_entries_end": self._persist["live"],
            "pipeline.bronze_s": total(lambda s: s.name == "pipeline.bronze_ingest"),
            "pipeline.silver_s": total(lambda s: s.name == "pipeline.silver_refine"),
            "pipeline.gold_s": total(lambda s: s.name == "pipeline.gold_build"),
            # validation beyond the write it observes
            "validation.s": sum(s.s for s in top_level(spans, "validation")) - total(
                lambda s: s.layer == "sources" and s.parent in by_id
                and by_id[s.parent].layer == "validation"
            ),
            "validation.extra_jobs": valid_jobs.jobs,
        }
        for fam in ("dedup", "similarity", "joins", "cleaning"):
            layer = f"operators.{fam}"
            users = {s.op for s in spans if s.layer == layer}
            build = sum(s.s for s in top_level(spans, layer) if s.phase == "build")
            m[f"{layer}.s"] = sum(exec_by_op[u] for u in users) + build
        m.update(self.layer)
        # the tracing overhead is this against an untraced run's pass_s
        m["trace.pass_s"] = sum(times)
        m["trace.spans"] = len(spans)
        self.tracer.dump(os.path.join(RUNS_DIR, f"spans-{self.workload}-{self.seed}.json"))
        return m

    # -- the run ---------------------------------------------------------------------
    def run(self) -> dict:
        setup_s = self.setup()
        log(f"set-up {setup_s:.2f}s {self.layer}")
        if not self.pipeline:
            self.lake_ratio = dir_bytes(os.path.join(self.dir, "warehouse")) / self.input_bytes
        if self.trace:
            # sampling /proc takes the JVM's mmap lock; untraced runs skip it
            with RssSampler() as rss:
                times = self.traced_pass()
            self.layer["memory.peak_mb"] = rss.peak / MB
        else:
            times = self.timed_pass()
        log(f"pass {sum(times):.2f}s; per op "
            + " ".join(f"{op}={t:.3f}" for op, t in zip(self.ops, times)))
        self.check_outputs()
        self.teardown()
        e2e = {
            "setup_s": setup_s,
            "pass_s": sum(times),
            "op_geomean_s": geomean(times),
            "lake_bytes_per_input_byte": self.lake_ratio,
        }
        summary = dict(e2e, error_rate=self.failed / self.attempted)
        print(f"perfbench {self.workload} seed={self.seed}: " + " ".join(
            f"{k}={v:.4g}" for k, v in summary.items()
        ))
        for op, why in sorted(self.failures.items()):
            print(f"perfbench FAILED {op}: {why}")
        metrics = self.layer_metrics(times) if self.trace else e2e
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
        }


UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "lake_bytes_per_input_byte": "ratio",
    "memory.peak_mb": "MB",
    "session.gen_s": "s",
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.layout_s": "s",
    "sources.load_s": "s",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "sources.write_s": "s",
    "sources.output_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exchanges": "count",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "exec.s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy_ratio": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "operators.dedup.s": "s",
    "operators.similarity.s": "s",
    "operators.joins.s": "s",
    "operators.cleaning.s": "s",
    "functions.python_nodes": "count",
    "functions.python_mb": "MB",
    "reuse.shared_calls": "count",
    "reuse.scans_per_persist": "ratio",
    "reuse.persist_mem_mb": "MB",
    "reuse.persist_disk_mb": "MB",
    "reuse.live_entries_end": "count",
    "pipeline.bronze_s": "s",
    "pipeline.silver_s": "s",
    "pipeline.gold_s": "s",
    "validation.s": "s",
    "validation.extra_jobs": "count",
    "trace.pass_s": "s",
    "trace.spans": "count",
}


def shutdown_jvm() -> None:
    """Stop the Py4J gateway's JVM (which ends its Python workers) and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Benchmark one workload of the engine.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the runner's interface; a run always times one pass
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import etl_ecommerce_data_spark.plans.queries  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=RUNS_DIR)
    bench = Bench(args.workload, args.seed, bool(args.trace), run_dir)
    try:
        result = bench.run()
    finally:
        bench.teardown()
        shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
