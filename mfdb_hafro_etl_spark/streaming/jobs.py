"""Streaming jobs over the events stream.

Design notes (scale-first):

- File-source streams share the batch reader's schema discipline: an
  explicit schema, never inference (a streaming source can't afford
  an inference pass, and silent type drift across files is worse).
- Watermarks bound ALL state: the windowed agg and the
  within-watermark dedup both purge state once event time passes the
  lateness bound, so state size is O(active windows / in-flight
  keys), not O(stream history) — the only formulation that survives
  an unbounded stream on a real cluster.
- ``availableNow`` + memory sink is the verification harness: the
  same query graph that would run continuously is executed to
  exhaustion over the finite testdata and compared with its batch
  twin (the x_stream_* suite queries). ``complete`` output mode is used
  for the windowed agg in that harness because with a finite input
  the watermark never advances past the trailing windows — in
  ``append`` mode they would be withheld forever.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# events.parquet has shipped with ts as TIMESTAMP(NANOS) or
# TIMESTAMP(MICROS)/NTZ depending on the generator (see
# catalog.load_table); readStream needs an explicit schema, so probe
# the actual on-disk type with a one-off batch read and normalize the
# same way the batch path does.
EVENTS_STREAM_DDL_PREFIX = "event_id BIGINT, ts {ts_type}, user_id BIGINT, "
EVENTS_STREAM_DDL_SUFFIX = "event_type STRING, value DOUBLE, props STRING"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table, ts normalized to session-local
    TimestampType (nanos are floored to µs — the same floor the batch
    reader and DuckDB apply; NTZ micros are reinterpreted in the
    session tz, which is pinned UTC).

    The file stream source wants a DIRECTORY it can monitor for new
    files (that's the streaming contract — files arriving over time);
    the testdata ships a single parquet file, so it is staged into a
    scratch dir via symlink. In production this is the landing
    directory new event files drop into."""
    from mfdb_hafro_etl_spark.catalog import (
        events_ts_ddl,
        normalize_events_ts,
        read_events_raw,
    )

    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    if os.path.isdir(src):
        path = src
    else:
        tok = os.path.basename(sf_dir.rstrip("/"))
        path = f"/tmp/mfdb_suite/events_stream_{tok}"
        os.makedirs(path, exist_ok=True)
        link = os.path.join(path, "events.parquet")
        if not os.path.exists(link):
            os.symlink(src, link)
    # the probe read also owns the nanosAsLong flag scoping (the flag
    # stays set only for generations that need it at execution)
    ts_type = read_events_raw(spark, path).schema["ts"].dataType
    schema = (
        EVENTS_STREAM_DDL_PREFIX.format(ts_type=events_ts_ddl(ts_type))
        + EVENTS_STREAM_DDL_SUFFIX
    )
    return normalize_events_ts(spark.readStream.schema(schema).parquet(path))


from contextlib import contextmanager


@contextmanager
def _scoped_state_partitions(spark: SparkSession, n: int | None):
    """Scope spark.sql.shuffle.partitions to a streaming run (the
    batch-oriented session default is the wrong width for streaming
    state — see run_available_now's docstring), restoring the prior
    value however the run exits. One implementation for every
    streaming entry point, so a future fix (unset conf, interrupt
    handling) can't drift between copies."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if n is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        if n is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_available_now(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    state_partitions: int | None = 8,
    sink_dir: str | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to exhaustion (availableNow);
    returns the materialized result as a static DataFrame.

    Sink choice is the scale knob: the default memory sink COLLECTS
    every output row to the driver — right for verification-sized
    replays, a driver bottleneck past ~10⁷ update rows (measured at
    the 100× fixture: memory sink + downstream aggregate 41.5 s vs
    36.0 s through a distributed sink). Pass ``sink_dir`` to instead
    write each micro-batch to parquet via foreachBatch — fully
    distributed, no driver materialization; the returned DataFrame
    reads the written files (production-shaped: update-mode stateful
    queries can't use the file sink directly, foreachBatch is the
    documented idiom). Each batch OVERWRITES its own
    ``batch_id=<id>`` subdirectory: foreachBatch is at-least-once,
    and a plain append would double-write a batch that is retried
    after its parquet commit but before the stream's offset commit —
    the per-batch overwrite makes redelivery idempotent (the
    partition column is dropped on read). The checkpoint lives
    under ``sink_dir/_checkpoint`` (underscore-prefixed paths are
    invisible to the parquet read), so wiping sink_dir resets the
    whole replay. The caller owns sink_dir lifecycle; pass a fresh
    or wiped directory per logical run (see ``auto_sink_dir``).

    ``state_partitions`` sizes the stateful shuffle for the stream's
    duration (the batch-oriented spark.sql.shuffle.partitions is the
    wrong default for streaming state: every partition is a state
    store + a Python worker PER MICRO-BATCH, so an oversized count
    multiplies fixed costs — 32→8 partitions is a 4× wall-clock win
    on the verification inputs). Production jobs size this to key
    cardinality × throughput; it is fixed for the life of a
    checkpointed query, which is why it's an explicit knob here."""
    spark = sdf.sparkSession
    with _scoped_state_partitions(spark, state_partitions):
        if sink_dir is not None:

            def _write_batch(bdf, bid: int) -> None:
                bdf.write.mode("overwrite").parquet(
                    os.path.join(sink_dir, f"batch_id={bid}")
                )

            writer = (
                sdf.writeStream.foreachBatch(_write_batch)
                .outputMode(output_mode)
                .option(
                    "checkpointLocation", os.path.join(sink_dir, "_checkpoint")
                )
            )
        else:
            writer = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
            )
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    if sink_dir is not None:
        return _read_batched_sink(spark, sink_dir, sdf.schema)
    return spark.table(name)


def _read_batched_sink(spark: SparkSession, sink_dir: str, schema) -> DataFrame:
    """Read a foreachBatch parquet sink back, matching the memory
    sink's empty-table contract for BOTH empty shapes: no batch
    directories at all (zero batches produced), and batch_id=
    directories that contain no data files (a stream whose only
    batches were empty — e.g. the final watermark-commit batch of a
    stateful query emitting zero rows — still creates the per-batch
    directory, and parquet schema inference over an all-empty tree
    raises).

    Emptiness is detected STRUCTURALLY (walk the batch_id= dirs for
    data files) rather than by catching AnalysisException around the
    read: a blanket catch would make genuine read failures — schema
    drift between batch_id dirs, corrupt footers, a bad path — look
    identical to 'the stream produced zero rows'. With the structural
    check, those propagate."""
    batch_dirs = [
        e for e in os.listdir(sink_dir) if e.startswith("batch_id=")
    ]
    has_data = any(
        f.endswith(".parquet")
        for d in batch_dirs
        for f in os.listdir(os.path.join(sink_dir, d))
    )
    if not has_data:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(sink_dir).drop("batch_id")


def auto_state_partitions(
    spark: SparkSession, sf_dir: str, table: str = "events"
) -> int:
    """Size the stateful shuffle to the STREAMED source's volume
    (``table`` — pass the table the job actually reads; sizing a
    documents stream from events bytes re-creates the starvation this
    helper exists to fix): one state partition per ~4 MB of on-disk
    source, clamped to [8, 2 × defaultParallelism].

    All three constants are measured: 8 keeps per-microbatch fixed
    costs (every partition is a state store + a Python worker PER
    micro-batch) from dominating small verification inputs (32→8 was
    a 4× wall win at sf0.1); a fixed 8 starves big sources (the r4
    100× run put 100× the sessionizer state through 8 of 32 cores);
    and the CEILING must exceed defaultParallelism — at the 100×
    fixture (214 MB events), par-capped 26-32 partitions ran 33 s
    while 64 (= 2·par) ran 23.5 s: state-task walls are skewed by
    per-user event counts, and 2× oversubscription lets the
    scheduler rebalance the stragglers (same factor, same reason as
    session.spread_for_kernel). A real checkpointed deployment sizes
    this once from key cardinality × throughput; this helper is the
    harness analog driven by the one scale signal available up
    front, source bytes."""
    nbytes = source_bytes(sf_dir, table)
    par = spark.sparkContext.defaultParallelism
    return max(8, min(2 * par, 1 + nbytes // (4 << 20)))


#: source size past which run_available_now callers should prefer the
#: distributed parquet sink over the driver-collecting memory sink
AUTO_SINK_MIN_BYTES = 64 << 20


def auto_sink_dir(name: str, sf_dir: str) -> str | None:
    """Staging directory for run_available_now's distributed sink, or
    None when the event source is small enough (< AUTO_SINK_MIN_BYTES)
    that the memory sink is the better harness (measured crossover in
    run_available_now's docstring).

    The path is FIXED per (name, sf_dir, pid) and wiped on every
    call: repeated bench/retime invocations of the same arm IN ONE
    PROCESS reuse one directory instead of leaking a fresh mkdtemp
    of streamed output (~GBs per round at the 100× fixture) into
    /tmp, while concurrent runs of the same arm (distinct pids)
    never clobber each other's in-flight sink+checkpoint. The root
    is per-user (a foreign-owned /tmp/mfdb_suite on a shared host
    would make makedirs fail; MFDB_SUITE_TMP overrides it), and
    directories left by DEAD pids are reaped on entry so pid
    churn across rounds can't accumulate streamed gigabytes."""
    nbytes = events_source_bytes(sf_dir)
    if nbytes <= AUTO_SINK_MIN_BYTES:
        return None
    return staging_dir(name, sf_dir)


def staging_dir(name: str, sf_dir: str) -> str:
    """Fresh scratch directory, FIXED per (name, sf_dir, pid) and
    wiped on every call: repeated bench/retime invocations of one arm
    in one process reuse a single directory instead of leaking
    mkdtemps, concurrent runs (distinct pids) never clobber each
    other, and directories left by dead pids are reaped on entry.
    Per-user root (MFDB_SUITE_TMP overrides).

    Contract: ONE in-flight invocation of a given (name, sf_dir) arm
    per process. The wipe-on-entry that makes repeated sequential
    invocations leak-free means two THREADS of one process running the
    same arm concurrently would clobber each other's in-flight
    sink/checkpoint — the bench/suite harness is sequential per
    process by construction, so this trade (bounded /tmp) is the right
    one; a caller needing intra-process concurrency should pass
    distinct `name`s."""
    import getpass
    import hashlib
    import shutil
    import tempfile

    base = os.environ.get("MFDB_SUITE_TMP") or os.path.join(
        tempfile.gettempdir(), f"mfdb_suite_{getpass.getuser()}"
    )
    root = os.path.join(base, "stream_sinks")
    os.makedirs(root, exist_ok=True)
    for entry in os.listdir(root):
        head, sep, pid_s = entry.rpartition("_pid")
        if sep and pid_s.isdigit() and not _pid_alive(int(pid_s)):
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    tok = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    path = os.path.join(root, f"{name}_{tok}_pid{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def _pid_alive(pid: int) -> bool:
    """True when ``pid`` is a live process we may signal (EPERM means
    alive-but-foreign, which for sink-reaping counts as alive)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except OSError:
        return True
    return True


def events_source_bytes(sf_dir: str) -> int:
    """source_bytes for the events table (the common case)."""
    return source_bytes(sf_dir, "events")


def source_bytes(sf_dir: str, table: str) -> int:
    """Recursive on-disk byte count of ``sf_dir``/<table>.parquet (0
    when unreadable) — the up-front scale signal the streaming
    harness sizes itself from."""
    src = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    try:
        if os.path.isdir(src):
            # recurse: a hive-partitioned/nested layout measured via
            # getsize on the subdirectory ENTRIES (~4 KB each) reads
            # as ~zero bytes and pins state width at the floor —
            # exactly the 100× starvation this helper exists to fix
            nbytes = 0
            for root, dirs, files in os.walk(src):
                dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
                nbytes += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if not f.startswith((".", "_"))
                )
        else:
            nbytes = os.path.getsize(src)
    except OSError:
        nbytes = 0
    return nbytes


def stream_tumbling_agg(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked tumbling-window count+sum per key — the streaming
    twin of operators/sessions.tumbling_window_agg (same output
    schema, same rounding)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            key_col,
            "n",
            "sum_value",
        )
    )


def stream_enriched_window_agg(
    events: DataFrame,
    dim: DataFrame,
    *,
    bucket_col: str = "user_bucket",
    cohort_col: str = "cohort",
    n_buckets: int = 5,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static enrichment feeding a watermarked aggregation:
    the static dimension joins each micro-batch as a broadcast hash
    join (stream-static joins keep NO streaming state — the dim is
    just replanned per batch), then the enriched stream rolls up per
    (window, cohort). The canonical "decorate events with reference
    data, then aggregate" streaming shape."""
    e = events.withColumn(
        bucket_col, F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("long")
    )
    j = e.join(F.broadcast(dim), on=bucket_col)
    return (
        j.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("win"), F.col(cohort_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            cohort_col,
            "n",
            "sum_value",
        )
    )


def stream_interval_join(
    events: DataFrame,
    *,
    left_type: str = "view",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each right-side event matches
    left-side events of the same user in the preceding ``within``
    interval. Both sides carry watermarks and the join condition
    bounds event time, so state for expired intervals is purged —
    the scale contract for stream-stream joins (unbounded state
    otherwise). Inner join ⇒ append output with no finalization
    wait: matches emit as they form."""
    a = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", watermark)
    )
    b = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", watermark)
    )
    cond = F.expr(
        f"user_id = user_b AND ts_b >= ts_a AND ts_b <= ts_a + interval {within}"
    )
    return a.join(b, cond).select("purchase_id", "view_id", "user_id")


def stream_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    *,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup on key columns with watermark-bounded
    state (dropDuplicatesWithinWatermark): duplicates arriving within
    the lateness bound are dropped, state for older keys is purged —
    the scale-safe streaming analog of the batch dropDuplicates."""
    keys = keys or ["user_id", "event_type", "ts"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


# ------------------------------------------------------------- sessions

# STATE-FORMAT VERSION NOTE: applyInPandasWithState fixes the state
# schema for the lifetime of a checkpoint. max_no (5th field) was
# added after the 4-field original — a BREAKING state-format bump: a
# stream_sessionize query restarted from a pre-max_no checkpoint
# cannot restore and must start from a FRESH checkpoint directory
# (reprocessing from the source as needed). Any future field change
# here carries the same requirement; call it out in the changelog.
SESSION_STATE_DDL = (
    "last_ts DOUBLE, session_no INT, start_ts DOUBLE, n_events INT, max_no INT"
)
SESSION_OUT_DDL = "user_id BIGINT, session_no INT, n_events INT, duration_s DOUBLE"


def _make_session_fn(tz: str):
    """Build the per-user incremental gap sessionizer for
    applyInPandasWithState, capturing the session timezone BY VALUE
    (worker interpreters re-import this module with default globals,
    so config must travel in the closure).

    ``tz`` matters for the watermark comparison only: Arrow delivers
    event timestamps as tz-naive wall times in the SESSION timezone,
    while getCurrentWatermarkMs() is UTC epoch millis — comparing a
    naive-UTC watermark against session-local naive events would
    shift every drop/accept decision by the timezone offset on any
    non-UTC deployment."""
    gap_s = 1800.0

    def _session_fn(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """State carries the open session's span plus the highest
        allocated session number; each batch emits the latest stats
        for every session it touched (update semantics — later emits
        supersede earlier)."""
        if state.exists:
            last_ts, session_no, start_ts, n_events, max_no = state.get
        else:
            last_ts, session_no, start_ts, n_events, max_no = None, 0, 0.0, 0, 0
        touched: dict[int, tuple[int, float]] = {}
        (user_id,) = key
        dfs = list(batches)
        rows = dfs[0] if len(dfs) == 1 else pd.concat(dfs, ignore_index=True)
        # Arbitrary stateful ops do NOT get engine-side late-row
        # filtering (verified empirically on this Spark: the watermark
        # advances but every input row still reaches the function, even
        # under EventTimeTimeout) — the documented contract is that the
        # USER drops late data via the exposed watermark. Without this
        # filter a straggler older than the watermark would merge into —
        # or reopen — a session the pipeline considers closed. With no
        # watermark configured the getter RAISES — treat that as 0/no-op.
        try:
            wm_ms = state.getCurrentWatermarkMs()
        except Exception:
            wm_ms = 0
        if wm_ms > 0:
            wm = (
                pd.Timestamp(wm_ms, unit="ms", tz="UTC")
                .tz_convert(tz)
                .tz_localize(None)
            )
            rows = rows[rows["ts"] >= wm]
            if rows.empty:
                if state.exists:
                    state.update((last_ts, session_no, start_ts, n_events, max_no))
                yield pd.DataFrame(
                    {"user_id": [], "session_no": [], "n_events": [], "duration_s": []}
                ).astype({"user_id": "int64", "session_no": "int64",
                          "n_events": "int64", "duration_s": "float64"})
                return
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        # 1) gap-chain the batch's own events into candidate sessions
        #    (ascending, so candidates are > gap apart by construction).
        #    Vectorized: a per-event Python loop costs ~1 µs/event ×
        #    every event of every batch — the dominant kernel cost at
        #    scale; chain breaks are one diff over the epoch array
        #    (int64 ns / 1e9 == Timestamp.timestamp() for the tz-naive
        #    values Arrow delivers).
        tv = rows["ts"].to_numpy(dtype="datetime64[ns]").astype("int64") / 1e9
        if tv.size:
            brk = np.empty(tv.size, dtype=bool)
            brk[0] = True
            np.greater(np.diff(tv), gap_s, out=brk[1:])
            starts_i = np.flatnonzero(brk)
            ends_i = np.append(starts_i[1:], tv.size)
            cands = [
                (float(tv[i]), float(tv[e - 1]), int(e - i))
                for i, e in zip(starts_i, ends_i)
            ]
        else:
            cands = []
        # 2) merge each candidate with the open session by the same
        #    gap rule (the open session participates through its span;
        #    its interior events are irrelevant to gap chaining)
        for start, last, n in cands:
            if (
                last_ts is not None
                and last >= start_ts - gap_s
                and start <= last_ts + gap_s
            ):
                # bridges the open session: merge, extending either way
                # (an out-of-order-but-within-gap straggler widens the
                # span backwards; duration stays the min..max span)
                start_ts = min(start_ts, start)
                last_ts = max(last_ts, last)
                n_events += n
                touched[session_no] = (n_events, round(last_ts - start_ts, 3))
            elif last_ts is not None and last < start_ts - gap_s:
                # straggler chain predating the open session by more
                # than the gap: in event-time order it could never have
                # joined it — emit as its own CLOSED session instead of
                # silently inflating the open one (matches the batch
                # twin's gap rule; session numbers are allocation
                # order, so a straggler's number is not event-time
                # ordered — uniqueness per user is the contract)
                max_no += 1
                touched[max_no] = (int(n), round(last - start, 3))
            else:
                # first-ever session, or a new session past the open
                # one's gap: it becomes the open session
                max_no += 1
                session_no = max_no
                start_ts, last_ts, n_events = start, last, int(n)
                touched[session_no] = (n_events, round(last_ts - start_ts, 3))
        state.update((last_ts, session_no, start_ts, n_events, max_no))
        out = pd.DataFrame(
            {
                "user_id": [user_id] * len(touched),
                "session_no": list(touched),
                "n_events": [v[0] for v in touched.values()],
                "duration_s": [v[1] for v in touched.values()],
            }
        )
        yield out

    return _session_fn


def stream_sessionize(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """Stateful gap-based sessionization (30-min gap) via
    applyInPandasWithState — the streaming twin of
    operators/sessions.session_stats.

    Emits updated (user_id, session_no) stats per batch; the final
    value per session is the row from the last batch that touched it
    (n_events only grows, so max() collapses the update log — see
    finalize_session_updates). Production deployments add an
    event-time timeout to flush + purge closed sessions; the
    verification harness keeps NoTimeout because a finite input's
    watermark never fires the trailing timeout anyway.

    Late-data contract (pinned by tests/test_streaming_ingest.py):
    with ``watermark`` set, events older than the watermark at batch
    start are dropped INSIDE the state function via
    ``state.getCurrentWatermarkMs()`` — the engine does not filter
    late rows for arbitrary stateful ops (verified empirically; the
    documented contract makes lateness the user function's job). A
    closed session is therefore never reopened or mutated by
    straggler replays. Events late relative to the max seen but
    within the delay reach the state function and follow the batch
    twin's gap rule against the OPEN session: within the 30-min gap
    of its span they merge (duration = min..max span); further out
    they emit as their own closed session rather than silently
    inflating the open one (session numbers are allocation order,
    unique per user). ``None`` (default, the verification replay)
    leaves the watermark at 0 and the filter a no-op."""
    src = events.select("user_id", "ts", "event_id")
    if watermark is not None:
        src = src.withWatermark("ts", watermark)
    tz = events.sparkSession.conf.get("spark.sql.session.timeZone") or "UTC"
    return src.groupBy("user_id").applyInPandasWithState(
        _make_session_fn(tz),
        outputStructType=SESSION_OUT_DDL,
        stateStructType=SESSION_STATE_DDL,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def finalize_session_updates(updates: DataFrame) -> DataFrame:
    """Collapse the update log from stream_sessionize to final
    per-session stats (counts/durations only grow within a session,
    so max = latest)."""
    return updates.groupBy("user_id", "session_no").agg(
        F.max("n_events").alias("n_events"),
        F.max("duration_s").alias("duration_s"),
    )


def _write_marker(marker: str, payload: dict | None = None) -> None:
    """Commit a batch: the atomic (tmp + rename) write of its marker, a
    JSON object (``payload``, empty by default)."""
    from mfdb_hafro_etl_spark.sinks.tables import _write_json

    os.makedirs(os.path.dirname(marker), exist_ok=True)
    _write_json(marker, payload or {})


def replace_partitions_handler(path: str, partition_cols: Sequence[str]):
    """The foreachBatch handler behind ingest_replace_partitions,
    exposed so its retry idempotence is directly testable: calling it
    twice with the same batch_id must apply the write once (marker
    short-circuit)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(path, "_commits", str(batch_id))
        if os.path.exists(marker):
            return
        if not batch_df.isEmpty():
            (
                batch_df.hint("rebalance", *[F.col(c) for c in partition_cols])
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*list(partition_cols))
                .parquet(path)
            )
        _write_marker(marker)

    return handle


def ingest_replace_partitions(
    stream_df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    checkpoint_dir: str,
) -> "StreamingQuery":
    """Exactly-once streaming ingest into a partitioned parquet store
    with REPLACE semantics per micro-batch (the streaming twin of
    sinks.replace_by_source).

    Structured Streaming's native file sink is append-only; dynamic
    partition overwrite from a stream needs foreachBatch — which
    downgrades the guarantee to at-least-once on retry (a batch can
    be re-delivered after a crash between the write and the offset
    commit). Idempotence is restored with a batch commit log: each
    batch writes its partitions via dynamic overwrite, then drops a
    marker under ``<path>/_commits/<batch_id>`` (atomic rename); a
    re-delivered batch_id short-circuits. Overwrite-then-mark is
    safe in THIS order because re-running the overwrite with the
    same deterministic batch content is a no-op — the marker only
    skips redundant work; correctness never depends on it.

    At scale this is the streaming fact-import path: each trigger
    rewrites only the partitions its data touches, the store stays
    readable throughout (dynamic overwrite is a directory swap), and
    the commit log is O(batches), pruned with the checkpoint."""
    return (
        stream_df.writeStream.foreachBatch(
            replace_partitions_handler(path, partition_cols)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_ingest_handler(
    index_path: str,
    verdict_dir: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
):
    """The foreachBatch handler behind stream_dedup_ingest, exposed so
    its retry idempotence is directly testable: the marker
    short-circuit around one run of the LSH ingest step
    (sinks.index._lsh_ingest), whose re-run reproduces the same
    verdicts for the crash window between the index append and the
    marker."""
    from mfdb_hafro_etl_spark.sinks.index import _lsh_ingest

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(verdict_dir, "_commits", str(batch_id))
        if os.path.exists(marker):
            return
        _lsh_ingest(
            batch_df, index_path, os.path.join(verdict_dir, f"batch_id={batch_id}"),
            id_col, text_col, n, k, rows_per_band,
        )
        _write_marker(marker)

    return handle


def stream_dedup_ingest(
    stream_df: DataFrame,
    index_path: str,
    verdict_dir: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    state_partitions: int | None = None,
) -> DataFrame:
    """Streaming dedup ingestion against a STANDING corpus — the
    online closure of the dedup family's batch topology (one-shot
    pairs -> incremental probe -> materialized index -> this): every
    micro-batch runs the one LSH ingest step (sinks.index._lsh_ingest)
    — probed against the materialized LSH index
    (sinks.index.lsh_index_write) by the same probe as
    dedup_against_index, deduplicated within itself (min id wins), and
    its novel documents appended to the index so batch N+1 dedups
    against everything admitted through batch N.
    The index must exist (bootstrap = lsh_index_write on the initial
    corpus, possibly empty); parameters are meta-validated on every
    probe and append, so a drifted (n, k, rows_per_band) config fails
    loudly instead of silently losing recall.

    Returns the verdict log read back after the availableNow run:
    (id, dup_kind, match_id, origin) — origin 'corpus' = duplicate of
    a previously-admitted doc, 'batch' = duplicate of a batch-mate;
    clean docs produce no row and are admitted. Batch-sequential
    semantics: verdicts depend on micro-batch boundaries by design
    (the same doc set split differently can flag different ids), the
    same way any online dedup depends on arrival order.

    foreachBatch is at-least-once; idempotence comes from the commit
    marker (normal redelivery short-circuits) plus the probe's
    own-batch match exclusion and the per-batch verdict overwrite
    (crash-window redelivery reproduces the identical verdicts and
    re-appends identical index rows, which min-id resolution
    absorbs). Scale shape: every join in the step is increment ×
    index equi-join or increment × increment; nothing rescans or
    re-shingles the corpus, so a 100 TB standing corpus costs each
    micro-batch only its own band/hash probes.

    Contract: ``id_col`` must be NUMERIC (integer/long/float/decimal).
    The intra-batch running-min uses a RANGE window frame over the id
    (ties excluded so a record re-emitted twice in one file can't
    duplicate itself), and range frames require a numeric ordering
    key. The batch index API (dedup_against_index) accepts string ids;
    this wrapper refuses them before the stream starts, and the step
    refuses them on every batch (so a direct dedup_ingest_handler call
    does too), rather than an opaque AnalysisException mid-batch."""
    from mfdb_hafro_etl_spark.sinks.index import _require_numeric_id

    _require_numeric_id(stream_df.schema, id_col)
    spark = stream_df.sparkSession
    with _scoped_state_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.foreachBatch(
                dedup_ingest_handler(
                    index_path, verdict_dir, id_col, text_col, n, k, rows_per_band
                )
            )
            .option(
                "checkpointLocation", os.path.join(verdict_dir, "_checkpoint")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    id_type = stream_df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, dup_kind STRING, "
        f"match_id {id_type}, origin STRING"
    )
    return _read_batched_sink(spark, verdict_dir, schema)


def ivf_ingest_handler(
    index_path: str,
    log_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_appended_frac: float = 0.25,
):
    """The foreachBatch handler behind stream_ivf_ingest, exposed so
    its retry behavior is directly testable.

    EXACTLY-ONCE appends, strictly stronger than the LSH ingest
    handler's at-least-once-absorbed-by-min-id: duplicate vector rows
    have no absorbing resolution (a top-k probe would return the same
    id twice), so the append is made convergent instead. Each batch
    runs the one IVF append routine (sinks.index._ivf_append, shared
    with ivf_index_append) under a token derived from ``log_dir`` and
    the batch_id: one aggregate probe, admission against the index's
    append ledger (batch and stream appends count against the same
    recluster budget, without scanning the standing vectors table),
    then the staged write and the deterministic per-cell rename. A
    crash-window redelivery re-stages the identical rows under the
    same names and overwrites its own ledger record, so the vectors
    table converges to one copy and the budget counts the batch once.
    The marker under ``<log_dir>/_commits`` short-circuits the normal
    redelivery; the rename discipline covers the window the marker
    can't. Past the budget the handler RAISES, failing the stream
    loudly mid-run; rebuild with build_ivf_index(..., rebuild=True),
    which resets the budget (new build_id), then restart the
    stream."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mfdb_hafro_etl_spark.sinks.index import (
        _clear_pending,
        _ivf_append,
        _stream_token,
    )

    # centroids are FROZEN per index build, so collecting them once per
    # build_id and reusing the list across this stream's micro-batches
    # is semantically free and removes one read+collect job per batch.
    # Scoped to this handler closure — one stream run.
    cents_memo: dict[str, list] = {}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        token = _stream_token(log_dir, batch_id)
        marker = os.path.join(log_dir, "_commits", str(batch_id))
        if os.path.exists(marker):
            # a crash between the marker write and the sentinel removal
            # leaves the sentinel behind; the short-circuit clears it so
            # compaction folds this batch's files again
            _clear_pending(index_path, token)
            return
        rec, n_cells = _ivf_append(
            batch_df, index_path, token, id_col, vec_col, max_appended_frac,
            f"stream batch {batch_id}", cents_memo,
        )
        # the per-batch log record is ONE driver-local row: write it
        # with pyarrow directly instead of running a Spark write job per
        # micro-batch. tmp + os.replace keeps the overwrite atomic.
        bdir = os.path.join(log_dir, f"batch_id={batch_id}")
        shutil.rmtree(bdir, ignore_errors=True)
        os.makedirs(bdir, exist_ok=True)
        tbl = pa.table(
            {
                "n_appended": pa.array([rec["n_appended"]], pa.int64()),
                "n_cells": pa.array([n_cells], pa.int32()),
            }
        )
        tmp_log = os.path.join(bdir, ".part-0.parquet.tmp")
        pq.write_table(tbl, tmp_log)
        os.replace(tmp_log, os.path.join(bdir, "part-0.parquet"))
        _write_marker(marker, rec)
        # marker durable -> this batch's files may now be compacted
        _clear_pending(index_path, token)

    return handle


def stream_ivf_ingest(
    stream_df: DataFrame,
    index_path: str,
    log_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_appended_frac: float = 0.25,
    state_partitions: int | None = None,
) -> DataFrame:
    """Streaming embedding ingestion into a STANDING materialized IVF
    index (sinks.index.build_ivf_index) — the ANN mirror of
    stream_dedup_ingest, closing the standing-service symmetry: every
    micro-batch is assigned to the index's frozen centroids and
    appended exactly-once (staged write + deterministic per-cell
    rename; see ivf_ingest_handler), under the volumetric recluster
    budget, which REFUSES loudly mid-stream when exceeded rather than
    silently degrading recall. The index must exist (bootstrap =
    build_ivf_index on the initial corpus).

    Returns the per-batch ingest log read back after the availableNow
    run: (n_appended, n_cells) per micro-batch. Probes against the
    index (ann_ivf_topk_indexed, by path, or by catalog_prefix after
    ivf_index_publish) see batch N's vectors before batch N+1 lands —
    probe-vs-appended equals probe-vs-rebuilt-with-the-same-centroids
    (the batch append invariant, pinned for the one-shot path by
    tests/test_corpus_ops.py and for this streaming path by
    tests/test_streaming_ingest.py).

    Scale shape: each micro-batch costs one aggregate probe, one
    assignment map over its own rows (Arrow matmul vs dimension-sized
    broadcast centroids) and one increment-sized shuffle into cells;
    the budget is read from the index's append ledger, so nothing
    rescans the standing vectors. Streams with distinct ``log_dir``s
    and batch ivf_index_append calls may take turns on one index: their
    tokens never collide, and all of them count against one budget.
    Admission is check-then-act, so run one append at a time."""
    spark = stream_df.sparkSession
    with _scoped_state_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.foreachBatch(
                ivf_ingest_handler(
                    index_path, log_dir, id_col, vec_col, max_appended_frac
                )
            )
            .option(
                "checkpointLocation", os.path.join(log_dir, "_checkpoint")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return _read_batched_sink(
        spark, log_dir, "n_appended BIGINT, n_cells INT"
    )
