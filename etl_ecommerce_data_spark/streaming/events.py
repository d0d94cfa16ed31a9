"""Structured Streaming operators over the events table.

The reference has no streaming at all (SURVEY §2.8: batch DAG, manual
trigger). This module adds the stream-shaped surface a modern pipeline needs:
a file-source event stream, watermarked tumbling-window aggregation, and a
bounded run-to-memory driver for tests/oracle checks.

Scale posture: the same code targets Kafka by swapping ``readStream.format``;
state is bounded by the watermark (late events beyond the delay are dropped),
and the windowed aggregation shuffles by (window, event_type) exactly like its
batch twin (plans/queries.py events_tumbling_5min).
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator

import os as _os

import pandas as pd
from etl_ecommerce_data_spark.sources.registry import (
    events_normalize_ts,
    events_read_schema,
    events_ts_kind,
)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Stream-side ts handling matches the batch reader: the encoding (legacy
# TIMESTAMP(NANOS)-as-long vs native TIMESTAMP(MICROS)) is probed per source
# file and both normalize to a UTC-session TimestampType column — see
# sources/registry.py events_ts_kind/events_read_schema/events_normalize_ts.


# Live pid-suffixed scratch roots (sessionize staging, scratch-mode upsert
# tables). The pid suffix isolates concurrent processes sharing one sf_dir
# (parallel pytest workers, bench + sweep) but by itself LEAKED one full
# staged copy of events per process: a crashed or completed process's tree
# lingered in the system tempdir forever. Two-sided fix: this
# process's roots are reclaimed by ONE atexit hook, and stale same-hash
# siblings whose owning pid is no longer alive are swept before staging.
_SCRATCH_ROOTS: set[str] = set()
_SCRATCH_ATEXIT_REGISTERED = False


def _reclaim_scratch_roots() -> None:
    import shutil

    for root in list(_SCRATCH_ROOTS):
        shutil.rmtree(root, ignore_errors=True)
        _SCRATCH_ROOTS.discard(root)


def _pid_alive(pid: int) -> bool:
    """True unless the pid provably does not exist. EPERM (live process,
    other user) counts as alive — never sweep a dir we can't attribute."""
    try:
        _os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except (PermissionError, OverflowError, ValueError):
        return True
    return True


def _scratch_root(prefix: str, sf_dir: str) -> str:
    """Per-(prefix, sf_dir, pid) scratch dir path: ``{prefix}_{hash}_{pid}``
    under the system tempdir. Registers the path for atexit reclaim and
    sweeps dead siblings (same prefix+hash, numeric-pid remainder, owner not
    alive). Pid reuse can mark an unrelated live process's slot as alive —
    that errs toward KEEPING a stale dir until the next sweep, never toward
    deleting a live one. Does not create or wipe the dir — callers keep
    their own rmtree/makedirs staging semantics."""
    global _SCRATCH_ATEXIT_REGISTERED
    import atexit
    import hashlib
    import shutil
    import tempfile

    tmp = tempfile.gettempdir()
    base = f"{prefix}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_"
    try:
        siblings = _os.listdir(tmp)
    except OSError:
        siblings = []
    for d in siblings:
        rest = d[len(base):] if d.startswith(base) else ""
        if rest.isdigit() and int(rest) != _os.getpid() and not _pid_alive(int(rest)):
            shutil.rmtree(_os.path.join(tmp, d), ignore_errors=True)
    root = _os.path.join(tmp, f"{base}{_os.getpid()}")
    _SCRATCH_ROOTS.add(root)
    if not _SCRATCH_ATEXIT_REGISTERED:
        atexit.register(_reclaim_scratch_roots)
        _SCRATCH_ATEXIT_REGISTERED = True
    return root


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one micro-batch
    locally; in production this is the Kafka source with the same schema)."""
    path = _os.path.join(sf_dir, "events.parquet")
    kind = events_ts_kind(spark, path)
    reader = spark.readStream.schema(events_read_schema(kind)).option(
        "maxFilesPerTrigger", "1"
    )
    if _os.path.isdir(path):
        # directory-shaped events table (multi-file writers): stream the
        # directory itself — the single-file glob below matches only leaf
        # files literally named events.parquet, so it would list ZERO files
        # here and every runner would return an honest-looking empty frame
        stream = reader.option("recursiveFileLookup", "true").parquet(path)
    else:
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    return events_normalize_ts(stream, kind)


def windowed_event_aggregation(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window aggregation (count + exact decimal sum).

    The watermark bounds state: windows older than (max event time − delay)
    are finalized and evicted. Aggregates follow the engine's exactness rules
    so streaming output equals the batch twin bit-for-bit.

    The grouping key is the WINDOW STRUCT, with ``start`` projected after
    the aggregation: grouping by ``window(...).start`` directly would strip
    the event-time watermark metadata off the key (an Alias over a struct
    field does not inherit it), leaving the state store nothing to evict
    by — unbounded state in update mode, the exact hazard the watermark
    exists to bound.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("__w"), "event_type")
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("__w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def user_running_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, exact money total)
    via ``applyInPandasWithState`` — the arbitrary-state surface that
    watermarked windows can't express (state survives across micro-batches,
    update semantics, explicit state schema).

    Exactness: money is accumulated as integer cents (the event values are
    2-decimal doubles, so ``round(value*100)`` is exact) — the emitted
    ``total_value = cents / 100.0`` is the same IEEE double as
    ``CAST(SUM(CAST(value AS DECIMAL)) AS DOUBLE)`` in the batch oracle,
    independent of arrival order. State is two longs per user — bounded by
    user cardinality, not event volume.
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)  # COUNT(*) semantics, matching the oracle
            # fillna: SUM skips NULL values (0 contribution) — and a NaN
            # (Arrow's null) reaching astype('int64') would otherwise kill
            # the whole query with a non-finite-conversion error
            cents += int(
                pdf["value"].fillna(0.0).mul(100).round().astype("int64").sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_events_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup on event_id with watermark-bounded state:
    duplicates arriving within the watermark horizon are dropped, state for
    event ids older than (max event time − watermark) is evicted — the
    unbounded-state hazard of a plain streaming ``dropDuplicates`` is
    structurally avoided."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def _run_to_memory(stream_df: DataFrame, spark: SparkSession, mode: str) -> DataFrame:
    """Local VERIFICATION sink: the memory sink collects every emission onto
    the driver, which is exactly right for oracle comparison at test SFs and
    exactly wrong at scale (driver heap bounds the output). At scale the
    operator functions above attach to the deployment's own sink (Kafka or
    Delta, see the module docstring); the runners below are bounded
    verification drivers only."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = stream_df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # decouple the result from the sink table and DROP it: the memory sink
    # retains every collected row in the session catalog forever, so a
    # long-lived driver re-running these verifiers would accumulate one
    # full result copy per invocation (the rows are already driver-sized
    # here by design, so the one extra copy is free)
    sink = spark.table(name)
    out = spark.createDataFrame(sink.collect(), sink.schema)
    spark.catalog.dropTempView(name)
    return out


def _pin_mtime_order(dirs, base: float) -> None:
    """Pin micro-batch order explicitly: the file source sequences batches
    by file modification time, and copy-then-write usually orders
    correctly, but filesystem timestamp resolution is not a contract.
    ``dirs[i]``'s files all get mtime ``base + 2i`` (one shared helper —
    three hand-rolled copies of this loop had to be kept in sync)."""
    for i, d in enumerate(dirs):
        t = base + 2.0 * i
        for r, _sub, files in _os.walk(d):
            for f in files:
                _os.utime(_os.path.join(r, f), (t, t))


def run_user_running_stats_to_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the stateful per-user stats over all available input. The events
    file arrives as a single micro-batch, so the one 'update' emission per
    user is the final state — equal to the batch groupBy oracle."""
    events = read_events_stream(spark, sf_dir)
    return _run_to_memory(user_running_stats(events), spark, "update")


def run_dedup_events_to_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate every event (union the stream with itself), then streaming-
    dedup back to the original set — exercises drop-within-watermark state
    end-to-end with an exact batch oracle (the distinct events themselves)."""
    events = read_events_stream(spark, sf_dir)
    doubled = events.unionByName(read_events_stream(spark, sf_dir))
    deduped = dedup_events_stream(doubled).select("event_id", "user_id", "event_type")
    return _run_to_memory(deduped, spark, "append")


def view_purchase_stream_join(
    views: DataFrame, purchases: DataFrame, window_seconds: int = 1800,
    watermark: str = "40 minutes",
) -> DataFrame:
    """Stream-stream interval join: each 'view' matched to the same user's
    'purchase' events within the following ``window_seconds``.

    Both sides are stateful: a view must wait for future purchases, a
    purchase must wait for late views. Watermarks on BOTH event times plus
    the time-range join condition let Spark bound each side's state — rows
    older than (watermark + interval) are evicted, so state is
    O(rate × horizon), independent of stream length. The batch twin is
    range_join_view_purchase (operators/joins.py range_join)."""
    v = views.select(
        F.col("event_id").alias("view_event_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("v_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {window_seconds} SECONDS"))
    )
    return v.join(p, cond, "inner").select(
        "view_event_id",
        F.col("v_user_id").alias("user_id"),
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


def run_view_purchase_join_to_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the stream-stream interval join to completion."""
    events = read_events_stream(spark, sf_dir)
    views = events.filter(F.col("event_type") == "view")
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = view_purchase_stream_join(views, purchases)
    return _run_to_memory(joined, spark, "append")


def session_window_aggregation(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming sessionization with Spark's native session windows: gap-based
    merging windows; append mode emits a session only after the watermark
    passes its close (last event + gap), which also evicts its state — the
    same state machine as the batch ``session_window_stats`` query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max("ts").alias("last_ts"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_event_time"),
            F.col("n_events").cast("long").alias("n_events"),
            "session_value",
        )
    )


_ADVANCER_USER = -1


def run_session_windows_to_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive append-mode streaming sessionization to completion.

    Append mode only emits sessions the watermark has closed, so a single
    micro-batch would withhold every session near the stream's end. The run
    therefore stages TWO micro-batches in a scratch dir: the real events
    file, then a one-row watermark-advancer far in the future (a sentinel
    user). Batch 2 pushes the watermark past every real session's close,
    flushing and evicting all of them; the advancer's own (still-open)
    session stays in state and is never emitted — so the appended output is
    exactly the batch sessionization of the real events."""
    import os
    import shutil

    src = os.path.join(sf_dir, "events.parquet")
    # pid-suffixed + atexit-reclaimed + dead-sibling-swept (see
    # _scratch_root): concurrent processes stay isolated, crashed ones
    # don't leak their staged events copy
    stage = _scratch_root("session_stream_stage", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    shutil.copyfile(src, os.path.join(stage, "batch0_events.parquet"))
    # advancer row in the SAME ts encoding as the staged events file, one
    # day past its max event time (see registry events_ts_kind)
    kind = events_ts_kind(spark, os.path.join(stage, "batch0_events.parquet"))
    schema = events_read_schema(kind)
    max_ts = (
        spark.read.schema(schema)
        .parquet(os.path.join(stage, "batch0_events.parquet"))
        .agg(F.max("ts").alias("m"))
        .first()["m"]
    )
    if kind == "nanos":
        adv_ts = int(max_ts) + 86_400_000_000_000
    else:
        import datetime

        adv_ts = max_ts + datetime.timedelta(days=1)
    advancer = spark.createDataFrame(
        [(-1, adv_ts, _ADVANCER_USER, "advance", 0.0, None)],
        schema,
    )
    adv_dir = os.path.join(stage, "batch1_advance.parquet")
    advancer.coalesce(1).write.mode("overwrite").parquet(adv_dir)
    # The file source sequences micro-batches by file modification time; the
    # advancer MUST process after the real events or every event is dropped
    # as late. Copy + write usually order correctly, but pin it explicitly
    # instead of trusting filesystem timestamp resolution.
    events_mtime = os.stat(os.path.join(stage, "batch0_events.parquet")).st_mtime
    _pin_mtime_order([adv_dir], events_mtime + 2.0)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )
    events = events_normalize_ts(stream, kind)
    agg = session_window_aggregation(events)
    out = _run_to_memory(agg, spark, "append")
    result = out.filter(F.col("user_id") != _ADVANCER_USER)
    if result.limit(1).count() == 0:
        # Zero sessions from a nonempty events file means the advancer batch
        # processed first and the watermark discarded everything — fail
        # loudly rather than returning a silently-empty result.
        raise RuntimeError(
            "streaming sessionization emitted no sessions; micro-batch "
            "ordering was not events-then-advancer"
        )
    return result


def run_windowed_stream_to_memory(
    spark: SparkSession,
    sf_dir: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drive the streaming aggregation over all available input and return the
    final result as a (batch) DataFrame.

    *Complete* mode: every micro-batch re-emits the full aggregation state,
    so after ``processAllAvailable`` the sink holds exactly the
    batch-equivalent result (append mode would withhold windows newer than
    the watermark — untestable without an extra batch)."""
    events = read_events_stream(spark, sf_dir)
    agg = windowed_event_aggregation(events, window, watermark)
    return _run_to_memory(agg, spark, "complete")


def user_type_counts_tws(events: DataFrame) -> DataFrame:
    """Per-(user, event_type) running counts via ``transformWithStateInPandas``
    — Spark 4's arbitrary-state v2 API (typed state HANDLES instead of one
    opaque state tuple): a ``MapState`` keyed by event_type holds the counts,
    so state grows with the user's distinct types (bounded, ~5 here), not
    with events, and supports per-entry ops (TTL, point update/remove) that
    ``applyInPandasWithState``'s single-value state cannot express.

    Emission: after each micro-batch the processor emits the user's full
    current map; with the events file arriving as one micro-batch the single
    emission equals the batch ``GROUP BY user_id, event_type`` oracle.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class PerTypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "counts", "event_type string", "n long"
            )

        def handleInputRows(
            self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
        ) -> Iterator[pd.DataFrame]:
            for pdf in rows:
                # dropna=False: the batch GROUP BY twin keeps the NULL
                # event_type group; pandas' default would silently drop it
                for et, cnt in pdf.groupby("event_type", dropna=False).size().items():
                    cur = self._counts.getValue((et,))
                    self._counts.updateValue(
                        (et,), ((cur[0] if cur else 0) + int(cnt),)
                    )
            pairs = [(k[0], v[0]) for k, v in self._counts.iterator()]
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(pairs),
                    "event_type": [p[0] for p in pairs],
                    "n_events": [p[1] for p in pairs],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        PerTypeCounts(),
        outputStructType="user_id long, event_type string, n_events long",
        outputMode="update",
        timeMode="none",
    )


def run_user_type_counts_tws_to_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the transformWithState processor over all available input."""
    events = read_events_stream(spark, sf_dir)
    return _run_to_memory(user_type_counts_tws(events), spark, "update")


def run_stream_static_enrich_to_memory(
    spark: SparkSession,
    sf_dir: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-STATIC enrichment join + windowed aggregation: the production
    pattern of joining an event stream against a dimension table (here the
    customer dim on ``user_id = c_custkey``) before aggregating per
    (window, segment).

    The join is stateless — Spark re-plans the static side each micro-batch
    (picking up dim updates between batches) and the explicit ``broadcast``
    keeps it shuffle-free on the stream side: each micro-batch's tasks probe
    a broadcast hash map, no state store involved. Complete-mode sink as in
    ``run_windowed_stream_to_memory`` so the final table equals the batch
    twin (which is the DuckDB oracle).
    """
    from etl_ecommerce_data_spark.sources.registry import load_table

    events = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = events.join(F.broadcast(cust), "user_id")
    agg = (
        joined.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).start.alias("window_start"), "c_mktsegment")
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    return _run_to_memory(agg, spark, "complete")


_UPSERT_MANIFEST_DIR = "manifests"


def _upsert_manifest_path(root: str, batch_id: int) -> str:
    # zero-padded so lexicographic file order == batch order
    return _os.path.join(
        root, _UPSERT_MANIFEST_DIR, f"manifest_{batch_id:020d}.json"
    )


def _write_upsert_manifest(
    root: str, batch_id: int, num_buckets: int, bucket_dirs: dict[int, str]
) -> None:
    """Persist the per-bucket pointer map durably, AFTER the batch's
    snapshot write succeeds: a manifest's existence means its batch is
    fully applied. Pointers are stored root-relative with a FIXED ``/``
    separator (the root may be a temp path that differs across hosts, and
    a manifest written on one platform must parse on another) and the
    write is atomic AND fsynced (tmp + fsync + os.replace + dir fsync), so
    neither a crash nor a power loss mid-write leaves a torn latest — and
    the loader skips an unparseable file anyway, falling back to the
    retained predecessor."""
    import json

    mdir = _os.path.join(root, _UPSERT_MANIFEST_DIR)
    _os.makedirs(mdir, exist_ok=True)
    payload = {
        "batch_id": batch_id,
        "num_buckets": num_buckets,
        "buckets": {
            str(b): _os.path.relpath(p, root).replace(_os.sep, "/")
            for b, p in bucket_dirs.items()
        },
    }
    tmp = _os.path.join(mdir, f".manifest_{batch_id:020d}.tmp")
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
        fh.flush()
        _os.fsync(fh.fileno())
    _os.replace(tmp, _upsert_manifest_path(root, batch_id))
    dir_fd = _os.open(mdir, _os.O_RDONLY)
    try:
        _os.fsync(dir_fd)  # make the rename itself power-loss durable
    finally:
        _os.close(dir_fd)
    # superseded manifests are dead weight (restart reads only the latest);
    # keep one predecessor for post-mortem diffing, prune the rest — along
    # with any tmp file a crashed earlier attempt left behind
    keep = {
        f"manifest_{batch_id:020d}.json",
        f"manifest_{max(batch_id - 1, 0):020d}.json",
    }
    for f in _os.listdir(mdir):
        if (f.startswith("manifest_") and f not in keep) or (
            f.startswith(".manifest_") and f.endswith(".tmp") and f != _os.path.basename(tmp)
        ):
            _os.remove(_os.path.join(mdir, f))


def _load_latest_upsert_manifest(
    root: str,
) -> tuple[int, int, dict[int, str]] | None:
    """(batch_id, num_buckets, {bucket: abs snapshot dir}) from the latest
    READABLE manifest under ``root``, or None when no batch has ever
    committed — the restart entry point: latest-manifest-wins. An unparseable
    latest (a torn write that somehow survived the fsync discipline) is
    skipped, not fatal: the retained predecessor is exactly the fallback
    it is kept for, and Spark replays the batches after it."""
    mdir = _os.path.join(root, _UPSERT_MANIFEST_DIR)
    if not _os.path.isdir(mdir):
        return None
    names = sorted(
        f
        for f in _os.listdir(mdir)
        if f.startswith("manifest_") and f.endswith(".json")
    )
    for name in reversed(names):
        m = _read_upsert_manifest(_os.path.join(mdir, name))
        if m is None:
            continue
        buckets = {
            int(b): _os.path.join(root, *rel.split("/"))
            for b, rel in m["buckets"].items()
        }
        return int(m["batch_id"]), int(m["num_buckets"]), buckets
    return None


def _read_upsert_manifest(path: str) -> dict | None:
    """Parse one manifest file; None for torn/unreadable content (the
    callers treat that as 'this manifest does not exist')."""
    import json

    try:
        with open(path) as fh:
            m = json.load(fh)
        if not isinstance(m.get("buckets"), dict):
            return None
        return m
    except (OSError, ValueError):
        return None


def _upsert_live_snaps(root: str) -> set[str]:
    """Top-level ``snap_*`` dir names referenced by ANY retained manifest
    (the latest two — see _write_upsert_manifest). Retaining the
    predecessor's references matters for recovery: a batch that crashed
    before its manifest landed replays against the PREVIOUS manifest's
    pointers, so those snapshots must still be on disk."""
    mdir = _os.path.join(root, _UPSERT_MANIFEST_DIR)
    live: set[str] = set()
    if not _os.path.isdir(mdir):
        return live
    for f in _os.listdir(mdir):
        if f.startswith("manifest_") and f.endswith(".json"):
            m = _read_upsert_manifest(_os.path.join(mdir, f))
            if m is not None:
                live.update(
                    rel.split("/", 1)[0] for rel in m["buckets"].values()
                )
    return live


def _prune_upsert_snapshots(root: str) -> None:
    """Delete every ``snap_*`` tree under ``root`` no retained manifest
    references — without this a long-lived stream grows disk unboundedly
    (each batch leaves its superseded buckets' old snapshot dirs behind).
    The bound after pruning is two generations of live state (the latest
    manifest's pointers plus its predecessor's, kept for
    crash-before-manifest replay) — O(state), never O(batches)."""
    import shutil

    live_snaps = _upsert_live_snaps(root)
    for d in _os.listdir(root):
        if d.startswith("snap_") and d not in live_snaps:
            shutil.rmtree(_os.path.join(root, d), ignore_errors=True)


def _bucketed_upsert_batch(
    spark: SparkSession,
    root: str,
    bucket_dirs: dict[int, str],
    num_buckets: int,
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """One micro-batch of the bucketed latest-per-user upsert. Module-level
    (not a closure) so the touched-bucket contract is unit-testable.

    Three scale decisions, each fixing a measured 100× cost (round-10
    record in `3ae0e6d:SCALE.md`):

    - per-batch "latest per user" is a ``max_by`` AGGREGATE, not a
      row_number window — aggregates get map-side partial combine, so the
      shuffle carries ~one row per (partition, user) instead of every
      event row. Survivor identical: (ts, event_id) is unique per row, so
      ``max_by(row, struct(ts, event_id))`` picks exactly the window's
      ``ORDER BY ts DESC, event_id DESC`` head.
    - the latest-state snapshot is BUCKETED by ``pmod(xxhash64(user_id),
      num_buckets)`` and each batch merges + rewrites ONLY the buckets
      containing touched users — rewrite cost scales with the batch's
      touched state, not total snapshot size (the superlinear term the
      whole-snapshot rewrite had: B batches × full-snapshot IO).
    - writes stay snapshot-not-in-place: each batch writes a fresh
      ``snap_{batch_id}/__bkt={b}`` tree and flips the per-bucket pointer;
      untouched buckets keep pointing at their prior snapshot dirs
      (asserted by tests/test_streaming_multimodal.py's untouched-bucket
      pin).

    Production shape: Kafka source + Delta/Iceberg ``MERGE INTO`` a table
    partitioned/clustered by the same key hash — the formats' data skipping
    does the touched-bucket pruning this does by hand over plain parquet.

    Restart durability (VERDICT r10 ask #2): after the snapshot write, the
    pointer map lands durably as a per-batch JSON manifest under
    ``root/manifests`` (atomic rename; manifest existence == batch fully
    applied), and every ``snap_*`` dir no retained manifest references is
    pruned — disk is bounded by two generations of live state (latest
    manifest + predecessor, the latter kept so a crash-before-manifest
    replay still finds the pointers it merges from). A restarted
    query loads the latest manifest and resumes; a REPLAYED batch id
    (foreachBatch is at-least-once: offsets logged, commit missing) takes
    one of two idempotent paths:

    - its manifest exists (crash landed between manifest and checkpoint
      commit) → the batch is already applied; reset the pointer map to
      that manifest and skip — re-merging would also be correct
      (latest-wins is idempotent) but would re-read buckets the crashed
      attempt's own ``snap_{batch_id}`` holds while overwriting them;
    - no manifest (crash before or during the snapshot write) → the
      pointer map still references only OLDER snapshots, so re-running
      the merge and overwriting the half-written ``snap_{batch_id}`` is
      conflict-free.
    """
    import os

    from etl_ecommerce_data_spark.sources.incremental import merge_dataframes
    from pyspark import StorageLevel

    applied = _read_upsert_manifest(_upsert_manifest_path(root, batch_id))
    if applied is not None:
        # replayed, already-applied batch: adopt ITS manifest verbatim
        # (not "the latest" — precise even if a later one ever coexisted);
        # a torn manifest parses as None and falls through to the re-merge
        # path below, which is the correct recovery for a not-applied batch
        bucket_dirs.clear()
        bucket_dirs.update(
            {
                int(b): os.path.join(root, *rel.split("/"))
                for b, rel in applied["buckets"].items()
            }
        )
        # the crashed attempt may have died between its manifest write and
        # its prune — finish the prune here (safe: manifests are committed)
        _prune_upsert_snapshots(root)
        return
    bkt = F.pmod(F.xxhash64("user_id"), F.lit(num_buckets))
    others = [c for c in batch_df.columns if c != "user_id"]
    updates = (
        batch_df.groupBy("user_id")
        .agg(F.max_by(F.struct(*others), F.struct("ts", "event_id")).alias("__r"))
        .select("user_id", "__r.*")
        .withColumn("__bkt", bkt)
        # materialize once (reused by the touched-bucket probe AND the
        # merge) via RELIABLE storage: persist keeps lineage, so an
        # executor lost mid-batch recomputes the block instead of failing
        # the query (ADVICE r10 #2 — localCheckpoint truncated lineage
        # into executor-local storage, unrecoverable on executor loss)
        .persist(StorageLevel.DISK_ONLY)
    )
    try:
        touched = sorted(
            r[0] for r in updates.select("__bkt").distinct().collect()
        )
        out = os.path.join(root, f"snap_{batch_id}")
        upd_ver = updates.withColumn("__ver", F.struct("ts", "event_id"))
        existing = [bucket_dirs[b] for b in touched if b in bucket_dirs]
        if existing:
            # partitionBy stripped __bkt into the dir names; recompute it
            # (pure function of user_id) instead of re-reading it as a
            # partition col
            cur = (
                spark.read.parquet(*existing)
                .withColumn("__bkt", bkt)
                .withColumn("__ver", F.struct("ts", "event_id"))
            )
            merged = merge_dataframes(cur, upd_ver, ["user_id"], "__ver")
        else:
            merged = upd_ver
        # co-locate each bucket's rows in one task before the partitionBy
        # write: without this every task writes a file per bucket it holds
        # (tasks × buckets tiny files); with it the snapshot is exactly one
        # file per touched bucket — the shuffle moves only the merged state
        # (≤ one row per user), not event rows
        (
            merged.drop("__ver")
            .repartition(num_buckets, "__bkt")
            .write.partitionBy("__bkt")
            .mode("overwrite")
            .parquet(out)
        )
    finally:
        updates.unpersist()
    for b in touched:
        bucket_dirs[b] = os.path.join(out, f"__bkt={b}")
    # commit point: manifest lands only after the snapshot write succeeded
    _write_upsert_manifest(root, batch_id, num_buckets, bucket_dirs)
    _prune_upsert_snapshots(root)


def run_foreach_batch_upsert(
    spark: SparkSession,
    sf_dir: str,
    num_buckets: int = 32,
    root: str | None = None,
) -> DataFrame:
    """Streaming → incremental-table sink: ``foreachBatch`` merges each
    micro-batch's per-user latest event into a persistent keyed table using
    the engine's merge/upsert operator (latest-(ts, event_id)-wins, snapshot
    writes — never in place). The events file is staged as TWO micro-batches
    (split by event_id parity, written in parallel, mtime-pinned in order)
    so the upsert really runs across batches; because the merge survivor is
    deterministic by (ts, event_id), the end state equals the batch "latest
    row per user" regardless of how rows were batched — which is what the
    DuckDB oracle checks. The latest-state table is hash-bucketed by
    user_id and each batch rewrites only the buckets it touches — see
    :func:`_bucketed_upsert_batch` for the scale contract. Production
    shape: Kafka source + Delta/Iceberg MERGE INTO with the same
    merge_dataframes expression.

    Restart durability (VERDICT r10 ask #2): pass an explicit ``root`` to
    make the table survive the process. A root whose ``manifests/`` holds a
    committed batch RESUMES: the pointer map loads from the latest manifest
    (its recorded bucket count overriding the ``num_buckets`` argument —
    the hash layout is fixed at table creation), staging is skipped, and
    the stream restarts on its own checkpoint under ``root/ckpt`` — Spark
    replays any offsets-logged-but-uncommitted batch and
    :func:`_bucketed_upsert_batch` applies it idempotently. With the
    default ``root=None`` the table is scratch: a fixed temp path wiped at
    entry (the registry/oracle path, unchanged semantics).

    Concurrent writers are REJECTED fast: an explicit root is guarded by
    an exclusive kernel flock (sibling file ``<root>.writer.lock``) held
    for the whole run — a second stream pointed at the same root raises
    instead of racing the first's checkpoint offsets and bucket rewrites
    (on a real cluster the table format's commit protocol owns this; the
    lock is the single-node mirror of that contract). A crashed writer's
    lock is released by the kernel automatically — no staleness
    heuristics, no permanent brick.
    """
    import os
    import shutil

    explicit_root = root is not None
    if root is None:
        # pid-suffixed scratch (concurrent processes on one sf_dir must not
        # rmtree each other's staged batches mid-stream), atexit-reclaimed
        # and dead-sibling-swept via _scratch_root. This rmtree is
        # LOAD-BEARING, not duplicate cleanup: scratch mode promises a
        # rebuild, and without the wipe a repeat call in one process would
        # find its predecessor's manifests at the same pid-derived path and
        # take the RESUME branch instead.
        root = _scratch_root("upsert_stream", sf_dir)
        shutil.rmtree(root, ignore_errors=True)
        return _run_upsert_at_root(spark, sf_dir, num_buckets, root, explicit_root)
    lock_fd = _acquire_writer_lock(root)
    try:
        return _run_upsert_at_root(spark, sf_dir, num_buckets, root, explicit_root)
    finally:
        _release_writer_lock(lock_fd)


def _acquire_writer_lock(root: str) -> int:
    """Exclusive writer lock for a durable upsert root: a kernel ``flock``
    on ``<root>.writer.lock`` (a SIBLING of the root, so the fresh path's
    rmtree(root) cannot drop it mid-run). Returns the open fd HOLDING the
    lock; the caller releases by closing it (:func:`_release_writer_lock`).

    The kernel lock is the whole protocol — two earlier pid-file designs
    (O_EXCL create-then-write, then link-from-pid-tmp with rename-based
    takeover) each left a race: the last one let a contender that had read
    the OLD stale lock rename away a FRESHLY-CLAIMED live lock decided
    between its read and its rename (caught by the multi-process race
    test). ``flock`` has none of these windows: acquisition is a single
    atomic syscall, a crashed holder's lock is released by the kernel
    automatically (no staleness heuristics, no pid liveness guessing, no
    permanent brick from a half-written file), and contenders never
    modify each other's state. The file content (owner pid) is purely
    diagnostic for the rejection message. The lock file itself is NEVER
    unlinked — removing it while a waiter holds an fd to the old inode
    would let two processes lock two different inodes at one path.

    Advisory + single-node by design: every writer goes through this
    function, and on a real cluster the table format's commit protocol
    owns multi-writer coordination (module docstring scale note)."""
    import fcntl
    import os

    lock = root.rstrip("/") + ".writer.lock"
    fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        # Best-effort owner read, for the message only: the winner writes
        # its pid AFTER acquiring, so a contender that loses inside that
        # window reads an empty or stale pid — exclusion is unaffected
        # (the kernel lock decided it), hence the '~' in the message.
        try:
            owner = os.read(fd, 64).decode("ascii", "replace").strip() or "unknown"
        except OSError:
            owner = "unknown"
        os.close(fd)
        raise ValueError(
            f"upsert root {root!r} already has a live writer "
            f"(pid ~{owner}, best-effort read; lock {lock!r}) — concurrent "
            "streams on one root would corrupt its checkpoint; wait for it "
            "to finish or pass a different root"
        ) from None
    os.ftruncate(fd, 0)
    os.write(fd, str(os.getpid()).encode())
    return fd


def _release_writer_lock(fd: int) -> None:
    """Closing the fd drops the kernel flock (last close of the open file
    description releases it; process death does the same — that is the
    crash-safety story)."""
    import os

    os.close(fd)


def _run_upsert_at_root(
    spark: SparkSession,
    sf_dir: str,
    num_buckets: int,
    root: str,
    explicit_root: bool,
) -> DataFrame:
    import os
    import shutil

    stage = os.path.join(root, "stage")
    ckpt = os.path.join(root, "ckpt")
    table_meta = os.path.join(root, "table.json")
    kind = events_ts_kind(spark, os.path.join(sf_dir, "events.parquet"))
    schema = events_read_schema(kind)
    bucket_dirs: dict[int, str] = {}
    resumed = _load_latest_upsert_manifest(root)
    if resumed is not None and not os.path.isdir(ckpt):
        # manifests mean committed state (the manifest contract), so this
        # is a durable table whose checkpoint was deleted — it can neither
        # resume (no offsets to replay from) nor be treated as the
        # crashed-before-first-commit junk the fresh branch may wipe;
        # destroying committed data silently is never this function's call
        raise ValueError(
            f"root {root!r} holds a committed upsert table (manifests "
            "present) but its checkpoint is gone — cannot resume; delete "
            "the root explicitly to rebuild from scratch"
        )
    if resumed is not None:
        # a resumed table answers for ONE source: silently replaying an
        # old checkpoint against a different requested sf_dir would return
        # the old table as if it were the new input's
        if os.path.exists(table_meta):
            import json

            recorded = json.load(open(table_meta)).get("sf_dir")
            if recorded != os.path.abspath(sf_dir):
                raise ValueError(
                    f"root {root!r} holds the upsert table for "
                    f"{recorded!r}; refusing to resume it for "
                    f"{os.path.abspath(sf_dir)!r} — pass a fresh root"
                )
        _bid, num_buckets, loaded = resumed
        bucket_dirs.update(loaded)
        b0 = os.path.join(stage, "batch0.parquet")
    else:
        # fresh table: an explicit root without a committed manifest +
        # checkpoint pair is a crashed-before-first-commit run of THIS
        # runner (no state applied — rebuilding from scratch is the
        # idempotent recovery) — but only if everything in it is ours.
        # A directory holding anything this runner did not create is a
        # mistyped/foreign path; deleting it would be silent data loss.
        if explicit_root and os.path.isdir(root):
            owned = {"stage", "ckpt", _UPSERT_MANIFEST_DIR, "table.json"}
            foreign = [
                e
                for e in os.listdir(root)
                if e not in owned
                and not e.startswith("snap_")
                and not e.startswith(".")
            ]
            if foreign:
                raise ValueError(
                    f"root {root!r} contains entries this runner did not "
                    f"create ({foreign[:5]}) and has no resumable table — "
                    "refusing to delete it; pass a fresh or empty root"
                )
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(stage)
        import json

        with open(table_meta, "w") as fh:
            json.dump({"sf_dir": os.path.abspath(sf_dir)}, fh)
        raw = spark.read.schema(schema).parquet(
            os.path.join(sf_dir, "events.parquet")
        )
        b0 = os.path.join(stage, "batch0.parquet")
        b1 = os.path.join(stage, "batch1.parquet")
        # stage with PARALLEL multi-file writes (a coalesce(1) single-task
        # write serialized the whole staging phase — at 100× it was half
        # the wall); the batch boundary is restored below via
        # maxFilesPerTrigger
        par = max(2, spark.sparkContext.defaultParallelism)
        raw.filter(F.pmod("event_id", F.lit(2)) == 0).repartition(par).write.parquet(b0)
        raw.filter(F.pmod("event_id", F.lit(2)) == 1).repartition(par).write.parquet(b1)
        _pin_mtime_order((b0, b1), os.stat(b0).st_mtime)
    # one micro-batch per stage dir: batch 0 takes the n0 oldest files (all
    # of b0 — its mtime strictly precedes b1's); b1 follows in ≥1 batches.
    # Correctness never depends on the grouping — the merge is
    # batching-invariant — this only keeps the exercised shape predictable.
    n0 = sum(
        1
        for f in os.listdir(b0)
        if f.startswith("part-") and not f.endswith(".crc")
    )

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        _bucketed_upsert_batch(
            spark, root, bucket_dirs, num_buckets, batch_df, batch_id
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max(n0, 1)))
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )
    events = events_normalize_ts(stream, kind)
    q = (
        events.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(upsert_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if not bucket_dirs:
        raise RuntimeError("foreachBatch upsert processed no micro-batches")
    final = spark.read.parquet(*[bucket_dirs[b] for b in sorted(bucket_dirs)])
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.col("value").alias("last_value"),
    )


def run_incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingest with cross-batch exact dedup — the
    steady-state shape of a crawl pipeline feeding a 100 TB corpus: each
    micro-batch hashes its documents, drops everything whose content hash
    is already in the accepted table (left_anti against state), dedups
    within the batch (min doc_id per hash), and appends the survivors as a
    new snapshot.

    The documents file is staged as TWO micro-batches (doc_id parity,
    mtime-pinned in order), so the state join really runs across batches.
    The oracle pins the INCREMENTAL-EQUALS-SEQUENTIAL-GREEDY contract: the
    accepted doc for a hash is the min even doc_id if any even doc carries
    it (batch 0 wins), else the min odd doc_id — expressible in one SQL
    aggregate, so the final state is hash-checked, not just row-counted.
    Production shape: Kafka source + Delta MERGE with the same anti-join;
    state is one hash+id per UNIQUE document, not per ingested row.

    The final accepted state is eagerly ``localCheckpoint``-ed into Spark
    block storage and the per-call scratch root is removed before this
    returns — or raises — so a long-lived driver accumulates nothing on
    disk; Spark's ContextCleaner frees the checkpoint blocks once the
    caller drops the frame. That costs one extra materialization of the
    final state, the operator's smallest frame (one hash+id row per unique
    document). A lazy read of the snapshot instead would leave a frame
    that breaks the moment its backing directory is reclaimed.
    """
    import os
    import shutil
    import tempfile

    # per-invocation root: a fixture-keyed fixed path would let two
    # concurrent sessions (parallel pytest workers, bench + sweep) rmtree
    # each other's staged batches mid-stream — same isolation contract as
    # compact_table's uuid'd output path. Each superseded snapshot is
    # pruned eagerly inside the loop; the root itself goes in the finally.
    root = os.path.join(
        tempfile.gettempdir(), f"dedup_ingest_{uuid.uuid4().hex[:12]}"
    )
    try:
        stage = os.path.join(root, "stage")
        os.makedirs(stage)
        raw = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        b0 = os.path.join(stage, "batch0.parquet")
        b1 = os.path.join(stage, "batch1.parquet")
        # coalesce(1) is REQUIRED here, not an unported optimization from the
        # upsert runner's parallel staging: this stream runs maxFilesPerTrigger=1
        # (one batch per file), and the oracle pins the batch-0-wins-then-min
        # survivor per PARITY GROUP — multi-file staging would split each parity
        # into several batches with file-order-dependent survivors, making the
        # final state nondeterministic vs the oracle.
        raw.filter(F.pmod("doc_id", F.lit(2)) == 0).coalesce(1).write.parquet(b0)
        raw.filter(F.pmod("doc_id", F.lit(2)) == 1).coalesce(1).write.parquet(b1)
        _pin_mtime_order((b0, b1), os.stat(b0).st_mtime)

        current: list[str | None] = [None]

        def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
            hashed = batch_df.select(
                "doc_id", F.md5(F.col("text")).alias("content_hash")
            )
            # within-batch survivor: min doc_id per hash (deterministic)
            survivors = hashed.groupBy("content_hash").agg(
                F.min("doc_id").alias("doc_id")
            )
            out = os.path.join(root, f"accepted_{batch_id}.parquet")
            if current[0] is None:
                survivors.write.mode("overwrite").parquet(out)
            else:
                state = spark.read.parquet(current[0])
                fresh = survivors.join(state, "content_hash", "left_anti")
                state.unionByName(fresh).write.mode("overwrite").parquet(out)
                # the new snapshot is fully written (eager); the superseded one
                # is dead weight — prune it so only the live snapshot remains
                shutil.rmtree(current[0], ignore_errors=True)
            current[0] = out

        stream = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(stage)
        )
        q = stream.writeStream.outputMode("append").foreachBatch(ingest_batch).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        if current[0] is None:
            raise RuntimeError("incremental dedup ingest processed no micro-batches")
        # Durability scope, stated plainly: localCheckpoint truncates lineage
        # AND the source snapshot is deleted in the finally, so an executor
        # lost while holding the only copy of a block makes the returned
        # frame unrecoverable — acceptable for a local-mode verification
        # result (one executor == this process).
        return (
            spark.read.parquet(current[0])
            .select("content_hash", "doc_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
