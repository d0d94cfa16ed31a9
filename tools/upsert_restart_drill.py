"""Restart-path drill for the durable bucketed upsert at N× scale.

The round-11 restart drill measured the upsert's RESUME path at sf0.1
only. This tool completes the durability story
(VERDICT r11 ask #6): full run → forced crash at the expensive replay
point (newest checkpoint commit AND its manifest dropped — the
crash-before-manifest case, where the replayed batch's merge recomputes
from the prior manifest's pointers) → resume, at an N× events corpus.

The claim under test: restart cost scales with the REPLAYED BATCH's
touched state, not table size — the property the per-batch manifests
exist to buy. Evidence shape: resume wall ≪ full wall at every scale, and
the resumed state is element-for-element identical to the full run's.

Round 14 (VERDICT r13 ask #7) composes the last untested durability pair
ON THE N×-SCALE ROOT: after the plain crash/resume, the root is put back
into crash-before-manifest state while a LIVE writer holds the real
flock mid-batch; a second writer's acquisition must fail fast while the
first lives; the first is SIGKILLed (kernel-only lock release, no Python
cleanup); and a SECOND resume then drives the same N× root back to the
clean state. The pytest covers this cycle at test scale
(tests/test_streaming_multimodal.py::
test_upsert_crash_under_concurrency_releases_lock_and_resumes); the
drill proves the cycle's resume cost stays batch-bounded at N×.

Events are staged as N copies in a single pyarrow file, each copy's
event_id/user_id offset by a stride, so the copies are disjoint user
populations replaying the identical timeline; only events is staged —
the upsert reads nothing else.

Usage:
    python tools/upsert_restart_drill.py [sf_dir] [n_copies]
    # defaults: /root/testdata/sf0.001 100
"""

from __future__ import annotations

import json
import os
import queue
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_ecommerce_data_spark.session import get_spark  # noqa: E402
from etl_ecommerce_data_spark.streaming.events import (  # noqa: E402
    _upsert_live_snaps,
    run_foreach_batch_upsert,
)

SCRATCH = os.path.join(tempfile.gettempdir(), "upsert_restart_drill")
ID_STRIDE = 10_000_000  # per-copy id offset; copies stay disjoint while ids < it


def build_nx_events(sf_dir: str, n_copies: int) -> str:
    """Stage an N× events corpus as ONE parquet file (stream reader matches
    the literal leaf name events.parquet; one file keeps the micro-batch
    structure identical across scales). pyarrow preserves the source ts
    encoding — the runner's kind probe handles either."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = os.path.join(SCRATCH, f"{n_copies}x")
    os.makedirs(out, exist_ok=True)
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))

    def strided(i: int):
        e2 = ev.set_column(
            ev.schema.get_field_index("event_id"), "event_id",
            pc.add(ev["event_id"], i * ID_STRIDE),
        )
        return e2.set_column(
            e2.schema.get_field_index("user_id"), "user_id",
            pc.add(e2["user_id"], i * ID_STRIDE),
        )

    # Stream one stride at a time into a single ParquetWriter: the tool
    # accepts any sf_dir, and materializing all n_copies tables for one
    # concat is a peak-RSS cliff at 100 copies of a larger base
    # (ADVICE r12) — peak memory is now one copy, not n_copies. The
    # writer schema comes from a TRANSFORMED copy, not the source:
    # pc.add promotes narrow int id columns to int64, so a source-schema
    # writer would reject every strided batch on e.g. int32 inputs (and
    # int64 is also what the overflow-free stride arithmetic needs).
    first = strided(0)
    with pq.ParquetWriter(os.path.join(out, "events.parquet"), first.schema) as w:
        w.write_table(first)
        for i in range(1, n_copies):
            w.write_table(strided(i))
    return out


def drop_newest_commit_and_manifest(root: str) -> None:
    """Forced crash at the expensive replay point: the newest checkpoint
    commit marker AND its manifest are gone, so the resume must recompute
    the replayed batch's merge from the prior manifest's pointers (the
    crash-before-manifest path — restart B of the pytest matrix)."""
    commits = os.path.join(root, "ckpt", "commits")
    latest = max((f for f in os.listdir(commits) if not f.startswith(".")), key=int)
    os.remove(os.path.join(commits, latest))
    crc = os.path.join(commits, f".{latest}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    mdir = os.path.join(root, "manifests")
    latest_m = sorted(os.listdir(mdir))[-1]
    assert json.load(open(os.path.join(mdir, latest_m)))["batch_id"] == int(latest)
    os.remove(os.path.join(mdir, latest_m))


def _midbatch_writer_worker(root: str, q) -> None:
    """Writer A mid-batch (module-level for spawn pickling; the spawn child
    re-imports this module, whose top-level sys.path insert makes the engine
    importable): acquires the REAL writer lock through the production code
    path, reports readiness, then blocks until SIGKILLed — no cleanup code
    of ours runs, only the kernel can release the flock."""
    try:
        from etl_ecommerce_data_spark.streaming.events import _acquire_writer_lock

        _acquire_writer_lock(root)
        q.put(("locked", None))
        time.sleep(600)  # SIGKILLed long before this expires
    except BaseException as exc:  # noqa: BLE001 — diagnostic channel
        q.put(("error", repr(exc)))
        raise


def crash_under_concurrency_cycle(spark, events_dir: str, root: str, full: set) -> dict:
    """One composed failure cycle on an EXISTING upserted root: crash-before-
    manifest surgery → live writer A holds the flock mid-batch → writer B
    rejected fail-fast → A SIGKILLed → writer B resumes to exactly ``full``.
    Returns the cycle's timings; asserts on any contract violation."""
    import multiprocessing as mp

    drop_newest_commit_and_manifest(root)
    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    writer_a = ctx.Process(target=_midbatch_writer_worker, args=(root, q))
    writer_a.start()
    try:
        try:
            kind, detail = q.get(timeout=120)
        except queue.Empty:
            # writer A never reported — name WHICH failure (ADVICE r15):
            # a child that is still alive is hung (exitcode=None would
            # mislabel it a startup death), and it must be reaped HERE so
            # the raise doesn't hand the finally block an anonymous live
            # lock-holder.
            if writer_a.is_alive():
                writer_a.kill()
                writer_a.join(timeout=30)
                state = "hung: child still alive at timeout; killed"
            else:
                state = f"startup failure: child died, exitcode={writer_a.exitcode}"
            raise AssertionError(
                f"writer A never reported from the spawn child within 120 s ({state})"
            ) from None
        assert kind == "locked", f"writer A failed to acquire: {detail}"
        t0 = time.perf_counter()
        try:
            run_foreach_batch_upsert(spark, events_dir, root=root)
            raise AssertionError("second writer not rejected while A is live")
        except ValueError as exc:
            assert "live writer" in str(exc), f"wrong rejection: {exc}"
        t_reject = time.perf_counter() - t0
    finally:
        writer_a.kill()  # the crash: only the kernel releases the flock
        writer_a.join(timeout=30)
    t0 = time.perf_counter()
    resumed = {
        # num_buckets deliberately wrong: the resume must take the
        # manifest's layout, proving it's a real resume, not a rebuild
        tuple(r)
        for r in run_foreach_batch_upsert(
            spark, events_dir, num_buckets=999, root=root
        ).collect()
    }
    t_resume = time.perf_counter() - t0
    assert resumed == full, "post-crash-under-concurrency resume diverged"
    on_disk = {d for d in os.listdir(root) if d.startswith("snap_")}
    assert on_disk == _upsert_live_snaps(root), "unreferenced snaps on disk"
    return {
        "reject_s": round(t_reject, 2),
        "resume_s": round(t_resume, 2),
        "rejected_while_live": True,
    }


def drill(spark, events_dir: str, tag: str) -> dict:
    root = os.path.join(SCRATCH, f"root_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.perf_counter()
    full = {
        tuple(r)
        for r in run_foreach_batch_upsert(spark, events_dir, root=root).collect()
    }
    t_full = time.perf_counter() - t0
    drop_newest_commit_and_manifest(root)
    t0 = time.perf_counter()
    resumed = {
        tuple(r)
        # num_buckets deliberately wrong: resume must take the manifest's
        for r in run_foreach_batch_upsert(
            spark, events_dir, num_buckets=999, root=root
        ).collect()
    }
    t_resume = time.perf_counter() - t0
    assert resumed == full, f"{tag}: resumed state != full-run state"
    on_disk = {d for d in os.listdir(root) if d.startswith("snap_")}
    assert on_disk == _upsert_live_snaps(root), f"{tag}: unreferenced snaps on disk"
    # the composed cycle (VERDICT r13 ask #7): a SECOND resume after a
    # crash-under-concurrency cycle, on this same (possibly N×) root
    cycle = crash_under_concurrency_cycle(spark, events_dir, root, full)
    shutil.rmtree(root, ignore_errors=True)
    return {
        "full_s": round(t_full, 2),
        "resume_s": round(t_resume, 2),
        "resume_over_full": round(t_resume / t_full, 3),
        "state_rows": len(full),
        "crash_under_concurrency": cycle,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    n_copies = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH, exist_ok=True)
    spark = get_spark("upsert_restart_drill")
    # untimed warmup (scratch mode): the first streaming query of a session
    # pays JVM/stream-engine startup that would otherwise inflate the 1×
    # full-run wall and flatter every ratio derived from it
    run_foreach_batch_upsert(spark, sf_dir).collect()
    base = drill(spark, sf_dir, "1x")
    nx_dir = build_nx_events(sf_dir, n_copies)
    nx = drill(spark, nx_dir, f"{n_copies}x")
    print(json.dumps({
        "drill": "upsert_restart",
        "sf_dir": sf_dir,
        "n_copies": n_copies,
        "base": base,
        "nx": nx,
        "state_rows_ratio": round(nx["state_rows"] / base["state_rows"], 2),
        "resume_wall_ratio_nx_over_1x": round(nx["resume_s"] / base["resume_s"], 2),
    }))
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
