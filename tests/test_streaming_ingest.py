"""Exactly-once streaming ingest into the partitioned fact store:
foreachBatch + dynamic partition overwrite + batch commit log
(streaming/jobs.ingest_replace_partitions). The guarantee under test
is retry idempotence — a re-delivered batch_id must not re-apply."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mfdb_hafro_etl_spark.catalog import load_table
from mfdb_hafro_etl_spark.streaming.jobs import (
    ingest_replace_partitions,
    read_events_stream,
    replace_partitions_handler,
)


def _file_set(root: str) -> set[str]:
    out = set()
    for dirpath, _, files in os.walk(root):
        if "_commits" in dirpath:
            continue
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.join(dirpath, f))
    return out


def test_ingest_replace_partitions_end_to_end(spark, sf_dir, tmp_path):
    path = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt")
    stream = read_events_stream(spark, sf_dir)
    q = ingest_replace_partitions(stream, path, ["event_type"], ckpt)
    q.awaitTermination(120)

    got = (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # restart with the same checkpoint: no new input -> store untouched
    files = _file_set(path)
    q2 = ingest_replace_partitions(read_events_stream(spark, sf_dir), path, ["event_type"], ckpt)
    q2.awaitTermination(120)
    assert _file_set(path) == files


def test_replace_partitions_handler_retry_is_noop(spark, tmp_path):
    path = str(tmp_path / "t")
    handle = replace_partitions_handler(path, ["src"])
    batch = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k BIGINT, src STRING, v DOUBLE"
    )
    handle(batch, 7)
    files = _file_set(path)
    assert os.path.exists(os.path.join(path, "_commits", "7"))

    # redelivery of the SAME batch id: marker short-circuits, no rewrite
    mutated = spark.createDataFrame([(9, "a", 9.0)], "k BIGINT, src STRING, v DOUBLE")
    handle(mutated, 7)
    assert _file_set(path) == files
    assert spark.read.parquet(path).count() == 2

    # a NEW batch id replaces its partitions (and only them)
    handle(mutated, 8)
    rows = sorted(
        (r["k"], r["src"], r["v"]) for r in spark.read.parquet(path).collect()
    )
    assert rows == [(2, "b", 2.0), (9, "a", 9.0)]


# ------------------------------------------------- late-data watermark pins
# The contract under test (r3/r4 open item): with out-of-order events
# split ACROSS micro-batches, exactly which events does the watermark
# drop vs accept? maxFilesPerTrigger=1 forces one micro-batch per
# input file (availableNow honors it), so the watermark computed at
# the end of batch 1 (max event time − delay) gates batch 2.

import json


def _write_jsonl(dirpath: str, name: str, rows: list[dict], mtime: int) -> None:
    path = os.path.join(dirpath, name)
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    # FileStreamSource orders files oldest-modtime-first: pin the
    # batch order explicitly instead of trusting write latency
    os.utime(path, (mtime, mtime))


def test_tumbling_agg_watermark_drop_vs_accept_append(spark, tmp_path):
    """APPEND mode is where the watermark's drop guarantee is real:
    a window whose end the watermark has passed is emitted ONCE and
    its state evicted; a straggler arriving after that is discarded —
    it must not resurrect the window as a duplicate output row."""
    from mfdb_hafro_etl_spark.streaming.jobs import (
        run_available_now,
        stream_tumbling_agg,
    )

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    _write_jsonl(src_dir, "f1.json", [
        {"ts": "2024-01-01 10:00:00", "event_type": "A", "value": 1.0},
        {"ts": "2024-01-01 10:05:00", "event_type": "A", "value": 2.0},
        {"ts": "2024-01-01 12:00:00", "event_type": "A", "value": 1.0},
    ], 1_700_000_000)
    # batch 1 runs with watermark 12:00 − 10 min = 11:50
    _write_jsonl(src_dir, "f2.json", [
        # 11:55 ≥ 11:50 → late vs the max seen but WITHIN the delay:
        # the hard guarantee — never dropped
        {"ts": "2024-01-01 11:55:00", "event_type": "A", "value": 5.0},
        {"ts": "2024-01-01 12:30:00", "event_type": "A", "value": 1.0},
    ], 1_700_001_000)
    # batch 2 runs with watermark 12:30 − 10 min = 12:20: windows
    # 11:50 and 12:00 close and emit; 10:00 closed back in batch 1
    _write_jsonl(src_dir, "f3.json", [
        # 10:07 < 12:20 → BEYOND the watermark after its window
        # already emitted: dropped (accepting would re-create the
        # evicted state and emit a DUPLICATE 10:00 row)
        {"ts": "2024-01-01 10:07:00", "event_type": "A", "value": 100.0},
    ], 1_700_002_000)
    stream = (
        spark.readStream.schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .json(src_dir)
    )
    agg = stream_tumbling_agg(stream, window="10 minutes", watermark="10 minutes")
    out = run_available_now(agg, "late_tumbling_append", output_mode="append")
    rows = [(r.window_start, r.n, r.sum_value) for r in out.collect()]
    assert sorted(rows) == [
        ("2024-01-01 10:00:00", 2, 3.0),   # closed with on-time rows only
        ("2024-01-01 11:50:00", 1, 5.0),   # the within-delay event, counted
        ("2024-01-01 12:00:00", 1, 1.0),
    ]


def test_tumbling_agg_update_mode_guarantee_is_one_sided(spark, tmp_path):
    """UPDATE mode pins Spark's documented one-sided guarantee:
    within-delay data is never dropped, but beyond-delay data is NOT
    guaranteed to be dropped — this build re-aggregates a straggler
    into a fresh state entry (10:00 reappears as n=3). Pipelines that
    need closed-window finality must consume append output (test
    above); update output is a changelog whose old windows can
    resurface."""
    from mfdb_hafro_etl_spark.streaming.jobs import (
        run_available_now,
        stream_tumbling_agg,
    )

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    _write_jsonl(src_dir, "f1.json", [
        {"ts": "2024-01-01 10:00:00", "event_type": "A", "value": 1.0},
        {"ts": "2024-01-01 10:05:00", "event_type": "A", "value": 2.0},
        {"ts": "2024-01-01 12:00:00", "event_type": "A", "value": 1.0},
    ], 1_700_000_000)
    _write_jsonl(src_dir, "f2.json", [
        {"ts": "2024-01-01 10:07:00", "event_type": "A", "value": 100.0},
        {"ts": "2024-01-01 11:55:00", "event_type": "A", "value": 5.0},
    ], 1_700_001_000)
    stream = (
        spark.readStream.schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .json(src_dir)
    )
    agg = stream_tumbling_agg(stream, window="10 minutes", watermark="10 minutes")
    out = run_available_now(agg, "late_tumbling_update", output_mode="update")
    rows = {(r.window_start, r.n, r.sum_value) for r in out.collect()}
    assert ("2024-01-01 10:00:00", 2, 3.0) in rows   # batch-1 changelog entry
    assert ("2024-01-01 11:50:00", 1, 5.0) in rows   # within-delay accepted
    # the one-sided part: the beyond-delay straggler re-aggregated
    assert ("2024-01-01 10:00:00", 3, 103.0) in rows


def test_sessionize_watermark_drop_vs_accept(spark, tmp_path):
    from mfdb_hafro_etl_spark.streaming.jobs import (
        finalize_session_updates,
        run_available_now,
        stream_sessionize,
    )

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    _write_jsonl(src_dir, "f1.json", [
        {"user_id": 1, "ts": "2024-01-01 10:00:00", "event_id": 1},
        {"user_id": 1, "ts": "2024-01-01 10:05:00", "event_id": 2},
        {"user_id": 1, "ts": "2024-01-01 12:00:00", "event_id": 3},
    ], 1_700_000_000)
    # watermark after batch 1 = 11:50 with "10 minutes" delay
    _write_jsonl(src_dir, "f2.json", [
        # beyond the watermark: dropped before the state function —
        # closed session 1 must NOT be reopened (would become n=3)
        {"user_id": 1, "ts": "2024-01-01 10:06:00", "event_id": 4},
        # within delay: reaches the state function and merges into
        # open session 2 (gap to 12:00 is 4 min ≤ 30 min); duration
        # becomes the min..max span 11:56→12:00 = 240 s
        {"user_id": 1, "ts": "2024-01-01 11:56:00", "event_id": 5},
    ], 1_700_001_000)
    stream = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP, event_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .json(src_dir)
    )
    sess = stream_sessionize(stream, watermark="10 minutes")
    out = run_available_now(sess, "late_sessions", output_mode="update")
    fin = finalize_session_updates(out).collect()
    by = {(r.user_id, r.session_no): (r.n_events, r.duration_s) for r in fin}
    assert by[(1, 1)] == (2, 300.0)
    assert by[(1, 2)] == (2, 240.0)
    assert len(by) == 2


def test_sessionize_straggler_beyond_gap_gets_own_session(spark, tmp_path):
    """A within-watermark straggler MORE than the 30-min gap before
    the open session's start must not merge into it (the batch twin's
    gap rule would never chain them) — it emits as its own closed
    session under a fresh allocation-order number, and the open
    session continues unchanged."""
    from mfdb_hafro_etl_spark.streaming.jobs import (
        finalize_session_updates,
        run_available_now,
        stream_sessionize,
    )

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    _write_jsonl(src_dir, "f1.json", [
        {"user_id": 1, "ts": "2024-01-01 12:00:00", "event_id": 1},
        {"user_id": 1, "ts": "2024-01-01 12:10:00", "event_id": 2},
    ], 1_700_000_000)
    # watermark after batch 1 = 08:10 with "4 hours" delay
    _write_jsonl(src_dir, "f2.json", [
        # within the watermark delay but 75 min before the open
        # session's start: own closed session (was: silently merged,
        # inflating session 1's duration to a span covering >30 min
        # of silence)
        {"user_id": 1, "ts": "2024-01-01 10:45:00", "event_id": 3},
        # in-order continuation of the open session
        {"user_id": 1, "ts": "2024-01-01 12:20:00", "event_id": 4},
    ], 1_700_001_000)
    stream = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP, event_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .json(src_dir)
    )
    sess = stream_sessionize(stream, watermark="4 hours")
    out = run_available_now(sess, "straggler_sessions", output_mode="update")
    fin = finalize_session_updates(out).collect()
    by = {(r.user_id, r.session_no): (r.n_events, r.duration_s) for r in fin}
    # session 1 = the open 12:00..12:20 session (3 events, 1200 s);
    # session 2 = the straggler singleton (allocation order)
    assert by[(1, 1)] == (3, 1200.0)
    assert by[(1, 2)] == (1, 0.0)
    assert len(by) == 2


def test_run_available_now_sink_dir_batches_and_empty_source(spark, sf_dir, tmp_path):
    """The distributed sink must (a) return the same rows as the
    memory sink, through per-batch batch_id=<id> subdirectories with
    the partition column dropped on read (per-batch OVERWRITE is what
    makes foreachBatch redelivery idempotent), (b) keep its
    checkpoint under sink_dir/_checkpoint where the parquet read
    ignores it, and (c) return an EMPTY DataFrame with the stream's
    schema — not a schema-inference error — when the source yields no
    batches."""
    import os

    from mfdb_hafro_etl_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
        stream_dedup,
    )

    ev = read_events_stream(spark, sf_dir).select("user_id", "event_type", "ts")
    dd = stream_dedup(ev, ["user_id", "event_type", "ts"], watermark="2 hours")
    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    out = run_available_now(dd, "rs_parquet", state_partitions=8, sink_dir=sink)
    assert sorted(out.columns) == ["event_type", "ts", "user_id"]
    mem = run_available_now(dd, "rs_memory", state_partitions=8)
    assert out.count() == mem.count() > 0
    entries = os.listdir(sink)
    assert any(e.startswith("batch_id=") for e in entries)
    assert "_checkpoint" in entries

    # empty source: a schema-only stream dir with no data files
    empty_src = str(tmp_path / "empty")
    os.makedirs(empty_src)
    schema = "user_id BIGINT, event_type STRING, ts TIMESTAMP"
    sdf = spark.readStream.schema(schema).parquet(empty_src)
    sink2 = str(tmp_path / "sink2")
    os.makedirs(sink2)
    out2 = run_available_now(
        sdf.dropDuplicates(["user_id"]), "rs_empty", state_partitions=8,
        sink_dir=sink2,
    )
    assert out2.count() == 0
    assert sorted(out2.columns) == ["event_type", "ts", "user_id"]


def test_auto_sink_dir_gate_and_reuse(spark, sf_dir, tmp_path, monkeypatch):
    """auto_sink_dir returns None below the byte gate (memory sink is
    the right harness for small replays), and past it returns a FIXED
    per-(name, sf) path that is wiped on every call — repeated bench
    invocations must reuse one directory, not leak a mkdtemp of
    streamed output per run."""
    import os

    from mfdb_hafro_etl_spark.streaming import jobs as st

    assert st.auto_sink_dir("arm", str(tmp_path)) is None  # no events at all
    assert st.auto_sink_dir("arm", sf_dir) is None  # tiny test source

    monkeypatch.setattr(st, "AUTO_SINK_MIN_BYTES", 0)
    p1 = st.auto_sink_dir("arm", sf_dir)
    assert p1 is not None and os.path.isdir(p1)
    marker = os.path.join(p1, "stale.txt")
    open(marker, "w").write("x")
    p2 = st.auto_sink_dir("arm", sf_dir)
    assert p2 == p1 and not os.path.exists(marker)
    # concurrency + hygiene (ADVICE r6): the path is pid-scoped so
    # concurrent runs of one arm can't clobber each other's
    # in-flight sink, rooted per-user so a foreign /tmp dir on a
    # shared host can't break makedirs, and dirs left by DEAD pids
    # are reaped on entry (pid churn across rounds must not
    # accumulate streamed gigabytes)
    assert f"_pid{os.getpid()}" in os.path.basename(p1)
    root = os.path.dirname(p1)
    dead = os.path.join(root, "other_deadbeef_pid999999999")
    os.makedirs(dead, exist_ok=True)
    live_foreign = os.path.join(root, "other_deadbeef_pid1")  # pid 1: alive
    os.makedirs(live_foreign, exist_ok=True)
    try:
        st.auto_sink_dir("arm", sf_dir)
        assert not os.path.exists(dead)
        assert os.path.exists(live_foreign)
    finally:
        os.rmdir(live_foreign) if os.path.exists(live_foreign) else None


def test_read_batched_sink_empty_batch_dirs(spark, tmp_path):
    """A foreachBatch sink whose only batches were EMPTY leaves
    batch_id= directories with no data files; parquet schema
    inference over that tree raises, and the reader must fall back
    to the memory sink's empty-table contract (ADVICE r6)."""
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    from mfdb_hafro_etl_spark.streaming.jobs import _read_batched_sink

    sink = str(tmp_path / "sink")
    os.makedirs(os.path.join(sink, "batch_id=0"))
    schema = StructType([StructField("user_id", LongType())])
    out = _read_batched_sink(spark, sink, schema)
    assert out.count() == 0 and out.columns == ["user_id"]
    # and with data present, empty batch dirs are just skipped
    spark.createDataFrame([(7,)], schema).write.parquet(
        os.path.join(sink, "batch_id=1")
    )
    out2 = _read_batched_sink(spark, sink, schema)
    assert [r.user_id for r in out2.collect()] == [7]


def test_read_batched_sink_corrupt_data_propagates(spark, tmp_path):
    """Genuine sink read failures must PROPAGATE, not read as 'the
    stream produced zero rows': emptiness is detected structurally
    (no data files under any batch_id= dir), so a batch dir holding
    a corrupt parquet file raises instead of returning an empty
    frame (ADVICE r7)."""
    import os

    import pytest
    from pyspark.sql.types import LongType, StructField, StructType

    from mfdb_hafro_etl_spark.streaming.jobs import _read_batched_sink

    sink = str(tmp_path / "sink")
    bd = os.path.join(sink, "batch_id=0")
    os.makedirs(bd)
    with open(os.path.join(bd, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet footer")
    schema = StructType([StructField("user_id", LongType())])
    with pytest.raises(Exception):
        _read_batched_sink(spark, sink, schema).collect()


# ------------------------------------------------- streaming dedup ingest
def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


_CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog tonight"),
    (2, "spark shuffles wide dependencies across executor boundaries"),
]
# batch 1: 10 exact-dups corpus#1, 11 clean, 12 exact-dups 11 (batch-mate)
# batch 2: 20 near-dups 11 (one-word change), 21 clean
# batch 3: 30 exact-dups 21 (admitted in batch 2 -> corpus origin)
_B1 = [
    (10, "the quick brown fox jumps over the lazy dog tonight"),
    (11, "entirely novel document about distributed query planning"),
    (12, "entirely novel document about distributed query planning"),
]
_B2 = [
    (20, "entirely novel document about distributed query planning today"),
    (21, "another unique text with no overlap to anything before"),
]
_B3 = [
    (30, "another unique text with no overlap to anything before"),
]


def _build_index(spark, tmp_path, name="idx"):
    from mfdb_hafro_etl_spark.operators.dedup import lsh_index_write

    index = str(tmp_path / name)
    lsh_index_write(_docs_df(spark, _CORPUS), index, "doc_id", "text", n=3, k=8)
    return index


def test_stream_dedup_ingest_end_to_end(spark, tmp_path):
    """availableNow run over 3 file-ordered micro-batches: corpus
    exact + batch exact + cross-batch near + cross-batch exact all
    land with the right origin/match, and the index holds exactly
    corpus + admitted docs afterwards."""
    import pyspark.sql.functions as F

    from mfdb_hafro_etl_spark.streaming.jobs import stream_dedup_ingest

    index = _build_index(spark, tmp_path)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate([_B1, _B2, _B3]):
        _write_jsonl(
            src, f"b{i}.jsonl",
            [{"doc_id": d, "text": t} for d, t in rows], mtime=1_000 + i,
        )
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    out = stream_dedup_ingest(
        stream, index, str(tmp_path / "verdicts"), "doc_id", "text",
        state_partitions=4,
    )
    got = {
        r["doc_id"]: (r["dup_kind"], r["match_id"], r["origin"])
        for r in out.collect()
    }
    assert got == {
        10: ("exact", 1, "corpus"),
        12: ("exact", 11, "batch"),
        20: ("near", 11, "corpus"),
        30: ("exact", 21, "corpus"),
    }
    # admitted = clean docs only; the index's exact table now covers
    # corpus + admissions
    cids = {
        r["cid"]
        for r in spark.read.parquet(os.path.join(index, "exact")).collect()
    }
    assert cids == {1, 2, 11, 21}


def test_dedup_ingest_handler_marker_short_circuits(spark, tmp_path):
    from mfdb_hafro_etl_spark.streaming.jobs import dedup_ingest_handler

    index = _build_index(spark, tmp_path)
    vdir = str(tmp_path / "v")
    handle = dedup_ingest_handler(index, vdir, "doc_id", "text")
    handle(_docs_df(spark, _B1), 0)
    n_exact = spark.read.parquet(os.path.join(index, "exact")).count()
    handle(_docs_df(spark, _B1), 0)  # marker present -> no-op
    assert spark.read.parquet(os.path.join(index, "exact")).count() == n_exact


def test_dedup_ingest_crash_window_redelivery_is_idempotent(spark, tmp_path):
    """Simulate a crash AFTER the index append + verdict write but
    BEFORE the marker: redelivering the batch must reproduce the
    identical verdicts (own-batch admissions can't match themselves)
    and the re-appended index rows must not change any later probe."""
    from mfdb_hafro_etl_spark.operators.dedup import dedup_against_index
    from mfdb_hafro_etl_spark.streaming.jobs import dedup_ingest_handler

    index = _build_index(spark, tmp_path)
    vdir = str(tmp_path / "v")
    handle = dedup_ingest_handler(index, vdir, "doc_id", "text")
    handle(_docs_df(spark, _B1), 0)
    first = sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(vdir, "batch_id=0"))
        .collect()
    )
    os.remove(os.path.join(vdir, "_commits", "0"))  # the crash window
    handle(_docs_df(spark, _B1), 0)
    second = sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(vdir, "batch_id=0"))
        .collect()
    )
    assert first == second
    # the double-appended rows are absorbed by min-id resolution:
    # a later probe sees identical verdicts to a single-append index
    probe = _docs_df(spark, [(99, _B1[1][1])])
    got = dedup_against_index(spark, index, probe, "doc_id", "text").collect()
    assert [(r["doc_id"], r["dup_kind"], r["match_id"]) for r in got] == [
        (99, "exact", 11)
    ]


def test_stream_dedup_matches_sequential_batch_loop(spark, tmp_path):
    """Streaming verdicts == the sequential batch-by-batch loop of
    dedup_against_index + intra-batch dedup + append on the same
    batch split (the operator's defining contract)."""
    from mfdb_hafro_etl_spark.streaming.jobs import dedup_ingest_handler

    idx_a = _build_index(spark, tmp_path, "idx_a")
    idx_b = _build_index(spark, tmp_path, "idx_b")
    va, vb = str(tmp_path / "va"), str(tmp_path / "vb")
    ha = dedup_ingest_handler(idx_a, va, "doc_id", "text")
    hb = dedup_ingest_handler(idx_b, vb, "doc_id", "text")
    # same batches, applied through the same handler twice = the
    # sequential loop; a DIFFERENT split must be allowed to differ
    for bid, rows in enumerate([_B1, _B2, _B3]):
        ha(_docs_df(spark, rows), bid)
    for bid, rows in enumerate([_B1 + _B2, _B3]):  # coarser split
        hb(_docs_df(spark, rows), bid)
    a = sorted(tuple(r) for r in spark.read.parquet(va).drop("batch_id").collect())
    b = sorted(tuple(r) for r in spark.read.parquet(vb).drop("batch_id").collect())
    # flagged ids agree regardless of split here (doc 20's match 11 is
    # already admitted in both); origins differ where the boundary does
    assert [r[0] for r in a] == [r[0] for r in b] == [10, 12, 20, 30]


def test_dedup_ingest_rejects_mismatched_params(spark, tmp_path):
    import pytest as _pytest

    from mfdb_hafro_etl_spark.streaming.jobs import dedup_ingest_handler

    index = _build_index(spark, tmp_path)  # built with k=8
    handle = dedup_ingest_handler(
        index, str(tmp_path / "v"), "doc_id", "text", k=16
    )
    with _pytest.raises(ValueError, match="param"):
        handle(_docs_df(spark, _B1), 0)


def test_dedup_ingest_empty_corpus_bootstrap(spark, tmp_path):
    """The documented cold-start: an index bootstrapped from an EMPTY
    corpus (bands/exact dirs hold no data files) must probe as 'all
    novel', not crash on schema inference; after the first batch the
    index serves normally."""
    from mfdb_hafro_etl_spark.operators.dedup import lsh_index_write
    from mfdb_hafro_etl_spark.streaming.jobs import dedup_ingest_handler

    index = str(tmp_path / "idx")
    empty = _docs_df(spark, []).filter("doc_id IS NOT NULL")
    lsh_index_write(empty, index, "doc_id", "text")
    vdir = str(tmp_path / "v")
    handle = dedup_ingest_handler(index, vdir, "doc_id", "text")
    handle(_docs_df(spark, _B1), 0)  # must not raise
    got = {
        r["doc_id"]: (r["dup_kind"], r["match_id"], r["origin"])
        for r in spark.read.parquet(os.path.join(vdir, "batch_id=0")).collect()
    }
    # no corpus: only the intra-batch exact dup is flagged
    assert got == {12: ("exact", 11, "batch")}
    handle(_docs_df(spark, _B3 + [(31, _B1[1][1])]), 1)
    got1 = {
        r["doc_id"]: (r["dup_kind"], r["match_id"], r["origin"])
        for r in spark.read.parquet(os.path.join(vdir, "batch_id=1")).collect()
    }
    assert got1 == {31: ("exact", 11, "corpus")}


def test_dedup_ingest_duplicate_rows_within_batch_not_self_flagged(
    spark, tmp_path
):
    """An upstream that re-emits the SAME record twice inside one
    micro-batch (at-least-once sources do) must not flag the doc as a
    duplicate of itself: tied ids are outside the strict-< running-min
    frame, the doc is admitted once-worth of band rows twice (absorbed
    by min-id resolution), and later batches still match it."""
    from mfdb_hafro_etl_spark.operators.dedup import dedup_against_index
    from mfdb_hafro_etl_spark.streaming.jobs import dedup_ingest_handler

    index = _build_index(spark, tmp_path)
    vdir = str(tmp_path / "v")
    handle = dedup_ingest_handler(index, vdir, "doc_id", "text")
    doubled = _docs_df(spark, [_B1[1], _B1[1]])  # (11, novel) twice
    handle(doubled, 0)
    verdicts = spark.read.parquet(os.path.join(vdir, "batch_id=0")).collect()
    assert verdicts == []  # no self-verdict
    probe = _docs_df(spark, [(99, _B1[1][1])])
    got = dedup_against_index(spark, index, probe, "doc_id", "text").collect()
    assert [(r["doc_id"], r["dup_kind"], r["match_id"]) for r in got] == [
        (99, "exact", 11)
    ]


@pytest.mark.parametrize("entry", ["stream", "handler"])
def test_stream_dedup_ingest_rejects_string_ids_up_front(spark, tmp_path, entry):
    """The intra-batch running-min uses RANGE frames (tie-safe) which
    need a NUMERIC ordering key; a string id must be refused loudly
    before any work — at stream start, and by the ingest step when the
    handler is called directly — not as an AnalysisException
    mid-batch."""
    from mfdb_hafro_etl_spark.streaming.jobs import (
        dedup_ingest_handler,
        stream_dedup_ingest,
    )

    index = _build_index(spark, tmp_path)
    vdir = str(tmp_path / "v_str")
    if entry == "stream":
        src = str(tmp_path / "src_str")
        os.makedirs(src)
        _write_jsonl(src, "b0.jsonl", [{"doc_id": "a1", "text": "x"}], mtime=1_000)
        stream = spark.readStream.schema("doc_id STRING, text STRING").json(src)
        with pytest.raises(TypeError, match="numeric id"):
            stream_dedup_ingest(stream, index, vdir, "doc_id", "text")
    else:
        batch = spark.createDataFrame([("a1", _B1[1][1])], "doc_id STRING, text STRING")
        with pytest.raises(TypeError, match="numeric id"):
            dedup_ingest_handler(index, vdir, "doc_id", "text")(batch, 0)
    assert not os.path.exists(vdir)
    assert spark.read.parquet(os.path.join(index, "exact")).count() == len(_CORPUS)


def test_dedup_ingest_handler_jobs_and_pins(spark, tmp_path, monkeypatch):
    """One micro-batch of the _B1 fixture submits at most 26 Spark jobs
    (the same count at 2, 4 and 8 cores), and when the sink writes fork
    the batch, its b_hash/bands pins and the verdicts are all fully
    cached. Without the pins or the eager verdict barrier the
    concurrent writes re-run the minhash explode inside their own
    stages, which the job count alone does not show."""
    from mfdb_hafro_etl_spark.sinks import index as ix
    from mfdb_hafro_etl_spark.streaming.jobs import dedup_ingest_handler

    sc = spark.sparkContext

    def cached() -> dict[int, tuple[int, int]]:
        return {
            i.id(): (i.numCachedPartitions(), i.numPartitions())
            for i in sc._jsc.sc().getRDDStorageInfo()
        }

    index = _build_index(spark, tmp_path)
    before = set(cached())
    at_fork = []
    real = ix._concurrently

    def spy(session, *writes):
        at_fork.append({k: v for k, v in cached().items() if k not in before})
        return real(session, *writes)

    monkeypatch.setattr(ix, "_concurrently", spy)
    handle = dedup_ingest_handler(index, str(tmp_path / "v"), "doc_id", "text")
    batch = _docs_df(spark, _B1)
    tracker = sc.statusTracker()
    sc.setJobGroup("dedup_ingest_jobs", "one micro-batch")
    try:
        handle(batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(tracker.getJobIdsForGroup("dedup_ingest_jobs"))
    assert 0 < n_jobs <= 26
    # the step's fork comes first; the index append's own subtable
    # writes fork after it
    pins = at_fork[0]
    assert len(pins) == 4 and all(n == total for n, total in pins.values()), pins


# ------------------------------------------- streaming IVF ingest
def _emb_df(spark, ids, dim=8, shift=0.0):
    import math as _m

    rows = [
        (i, [_m.sin(0.7 * i + 0.3 * d) + shift for d in range(dim)]) for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _build_ivf(spark, tmp_path, n_centroids=4):
    from mfdb_hafro_etl_spark.operators.similarity import build_ivf_index

    path = str(tmp_path / "ivf_idx")
    _ = build_ivf_index(
        _emb_df(spark, range(100, 140)), path, n_centroids=n_centroids,
        kmeans_iters=0,
    )
    return path


def _vec_rows(spark, path):
    return sorted(
        (r["vec_id"], tuple(round(x, 9) for x in r["embedding"]))
        for r in spark.read.parquet(os.path.join(path, "vectors")).collect()
    )


def test_ivf_ingest_handler_exactly_once_all_windows(spark, tmp_path):
    """The rename discipline makes appends EXACTLY-once under every
    delivery pattern: normal (marker short-circuit), and crash-window
    (marker removed after a completed append) — re-running the handler
    must leave the vectors table with exactly one copy of the batch."""
    from mfdb_hafro_etl_spark.streaming.jobs import ivf_ingest_handler

    path = _build_ivf(spark, tmp_path)
    logd = str(tmp_path / "log")
    handle = ivf_ingest_handler(path, logd, max_appended_frac=1.0)
    batch = _emb_df(spark, range(0, 8))
    handle(batch, 0)
    after_first = _vec_rows(spark, path)
    assert len(after_first) == 48  # 40 built + 8 appended
    # normal redelivery: marker short-circuits
    handle(batch, 0)
    assert _vec_rows(spark, path) == after_first
    # crash-window redelivery: append completed, marker lost
    os.remove(os.path.join(logd, "_commits", "0"))
    handle(batch, 0)
    assert _vec_rows(spark, path) == after_first


def test_ivf_ingest_handler_jobs(spark, tmp_path):
    """One ivf_ingest_handler call on a fresh handler submits at most 8
    Spark jobs, and the stream's next batch at most 6 (the same counts
    at 2, 4 and 8 cores): the handler collects the index's centroids
    once per build, never reads the standing vectors table, and writes
    its log record and commit marker without Spark."""
    from mfdb_hafro_etl_spark.streaming.jobs import ivf_ingest_handler

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    path = _build_ivf(spark, tmp_path)
    handle = ivf_ingest_handler(path, str(tmp_path / "log_jobs"), max_appended_frac=1.0)
    counts = []
    for batch_id, ids in enumerate([range(0, 8), range(8, 16)]):
        batch = _emb_df(spark, ids)
        group = f"ivf_ingest_jobs_{batch_id}"
        sc.setJobGroup(group, "one micro-batch")
        try:
            handle(batch, batch_id)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        counts.append(len(tracker.getJobIdsForGroup(group)))
    assert 0 < counts[1] <= 6 and counts[0] <= 8, counts
    assert len(_vec_rows(spark, path)) == 56


def test_stream_ivf_ingest_probe_equals_rebuilt(spark, tmp_path):
    """After streaming two batches into the standing index, a probe
    must answer row-identically to an index REBUILT from the full
    corpus with the same centroids (the append invariant, streaming
    edition)."""
    from mfdb_hafro_etl_spark.operators.similarity import (
        ann_ivf_topk_indexed,
        build_ivf_index,
    )
    from mfdb_hafro_etl_spark.streaming.jobs import stream_ivf_ingest

    path = _build_ivf(spark, tmp_path)
    src = str(tmp_path / "src")
    os.makedirs(src)
    b1, b2 = _emb_df(spark, range(0, 8)), _emb_df(spark, range(8, 16))
    for i, b in enumerate([b1, b2]):
        stage = str(tmp_path / f"stage{i}")
        b.repartition(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.replace(os.path.join(stage, part), os.path.join(src, f"b{i}.parquet"))
        os.utime(os.path.join(src, f"b{i}.parquet"), (1000 + i, 1000 + i))
    stream = (
        spark.readStream.schema("vec_id LONG, embedding ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    log = stream_ivf_ingest(
        stream, path, str(tmp_path / "log2"), max_appended_frac=1.0,
        state_partitions=4,
    )
    assert sorted(r["n_appended"] for r in log.collect()) == [8, 8]
    # rebuild from scratch over the identical corpus, same seed centroids
    full = _emb_df(spark, range(100, 140)).unionByName(_emb_df(spark, range(0, 16)))
    rebuilt = str(tmp_path / "ivf_rebuilt")
    build_ivf_index(
        _emb_df(spark, range(100, 140)), rebuilt, n_centroids=4, kmeans_iters=0
    )
    from mfdb_hafro_etl_spark.operators.similarity import ivf_index_append

    ivf_index_append(_emb_df(spark, range(0, 16)), rebuilt, max_appended_frac=1.0)
    q = [0.1] * 8
    got = sorted(map(tuple, ann_ivf_topk_indexed(spark, path, q, k=5).collect()))
    want = sorted(map(tuple, ann_ivf_topk_indexed(spark, rebuilt, q, k=5).collect()))
    assert got == want
    assert full.count() == 56  # fixture sanity


def test_stream_ivf_ingest_budget_refuses_mid_stream(spark, tmp_path):
    """The volumetric recluster budget applies per micro-batch: a
    stream whose appends would exceed max_appended_frac must FAIL
    loudly (no warn-and-proceed), leaving the marker absent so the
    batch is not falsely committed."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from mfdb_hafro_etl_spark.streaming.jobs import stream_ivf_ingest

    path = _build_ivf(spark, tmp_path)  # 40 built rows
    src = str(tmp_path / "src_budget")
    os.makedirs(src)
    big = _emb_df(spark, range(0, 30))  # 30 > 25% of 40
    stage = str(tmp_path / "stage_budget")
    big.repartition(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.replace(os.path.join(stage, part), os.path.join(src, "b0.parquet"))
    stream = spark.readStream.schema("vec_id LONG, embedding ARRAY<DOUBLE>").parquet(src)
    with pytest.raises(StreamingQueryException, match="recluster budget"):
        stream_ivf_ingest(
            stream, path, str(tmp_path / "log3"), max_appended_frac=0.25,
            state_partitions=4,
        )
    assert not os.path.exists(os.path.join(str(tmp_path / "log3"), "_commits", "0"))


def test_ivf_ingest_handler_rejects_dim_mismatch(spark, tmp_path):
    from mfdb_hafro_etl_spark.streaming.jobs import ivf_ingest_handler

    path = _build_ivf(spark, tmp_path)
    handle = ivf_ingest_handler(path, str(tmp_path / "log4"), max_appended_frac=1.0)
    import pytest

    with pytest.raises(ValueError, match="dim"):
        handle(_emb_df(spark, range(0, 4), dim=5), 0)


def test_ivf_batch_and_stream_appends_share_one_budget(spark, tmp_path):
    """Batch ivf_index_append and the streaming handler admit against
    ONE append ledger in the index directory: 12 batch-appended rows
    plus a 12-row stream batch exceed a 20-row budget (50% of 40), so
    the stream must refuse even though its own log holds no marker."""
    from mfdb_hafro_etl_spark.operators.similarity import ivf_index_append
    from mfdb_hafro_etl_spark.streaming.jobs import ivf_ingest_handler

    path = _build_ivf(spark, tmp_path)  # 40 built rows
    ivf_index_append(_emb_df(spark, range(0, 12)), path, max_appended_frac=0.5)
    handle = ivf_ingest_handler(path, str(tmp_path / "log_shared"), max_appended_frac=0.5)
    with pytest.raises(ValueError, match="recluster budget"):
        handle(_emb_df(spark, range(12, 24)), 0)
    assert len(_vec_rows(spark, path)) == 52


@pytest.mark.parametrize("bad", ["null", "dims"])
def test_ivf_batch_append_validates_every_row_like_the_stream(spark, tmp_path, bad):
    """The batch append runs the stream's aggregate probe, so a NULL
    vector or a wrong-dimension vector in a NON-first row refuses with
    the same ValueError the streaming handler raises."""
    from mfdb_hafro_etl_spark.operators.similarity import ivf_index_append
    from mfdb_hafro_etl_spark.streaming.jobs import ivf_ingest_handler

    path = _build_ivf(spark, tmp_path)
    rows = [(i, [0.1 * (i + d) for d in range(8)]) for i in range(4)]
    rows.append((4, None) if bad == "null" else (4, [0.5] * 5))
    batch = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    match = "is NULL" if bad == "null" else "8-dim vectors"
    with pytest.raises(ValueError, match=match) as batch_err:
        ivf_index_append(batch, path, max_appended_frac=1.0)
    handle = ivf_ingest_handler(path, str(tmp_path / "log_v"), max_appended_frac=1.0)
    with pytest.raises(ValueError, match=match) as stream_err:
        handle(batch, 0)
    # one message, naming the caller
    assert str(batch_err.value).replace("append batch", "stream batch 0") == str(
        stream_err.value
    )
    assert len(_vec_rows(spark, path)) == 40


def test_ivf_publish_retires_meta_first_and_guards_torn(spark, tmp_path):
    """ivf_index_publish writes the meta table LAST; a probe against a
    publication whose meta table is missing must fail loudly, and a
    republish restores it. The path probe refuses the same way when
    the index's meta file is missing."""
    import pytest

    from mfdb_hafro_etl_spark.operators.similarity import (
        ann_ivf_topk_indexed,
        ivf_index_publish,
    )
    from mfdb_hafro_etl_spark.sinks.index import _IVF_META

    path = _build_ivf(spark, tmp_path)
    ivf_index_publish(spark, path, "t_ivf_torn")
    q = [0.1] * 8

    def probe(prefix=None):
        return ann_ivf_topk_indexed(spark, path, q, k=3, catalog_prefix=prefix)

    assert probe("t_ivf_torn").count() == 3
    spark.sql("DROP TABLE t_ivf_torn_meta")
    with pytest.raises(Exception):
        probe("t_ivf_torn")
    ivf_index_publish(spark, path, "t_ivf_torn")
    assert probe("t_ivf_torn").count() == 3
    # the path probe: a missing meta file is a torn index
    assert probe().count() == 3
    meta = os.path.join(path, _IVF_META)
    os.rename(meta, meta + ".torn")
    with pytest.raises(FileNotFoundError):
        probe()
    os.rename(meta + ".torn", meta)
    assert probe().count() == 3


@pytest.mark.parametrize("kind", ["ivf", "lsh"])
def test_ivf_publish_reclaims_orphan_only_when_blocking(spark, tmp_path, kind):
    """Regression (r9 ADVICE): publish used to rmtree
    <warehouse>/<table_name> unconditionally before every save. Now a
    stale location is reclaimed ONLY when saveAsTable actually fails
    on it (the orphan case: a managed-table directory left by an
    earlier session whose catalog is gone), and the path is derived
    from the catalog database location. Both halves pinned here, for
    both index kinds (they share sinks.index._publish): an orphan
    directory at the managed location is reclaimed and the publish
    succeeds; an unrelated directory NOT at any published table's
    location survives the publish byte-for-byte."""
    from urllib.parse import urlparse

    from mfdb_hafro_etl_spark.operators.dedup import (
        dedup_against_index,
        lsh_index_publish_bucketed,
    )
    from mfdb_hafro_etl_spark.operators.similarity import (
        ann_ivf_topk_indexed,
        ivf_index_publish,
    )

    prefix = f"t_{kind}_orphan"
    db_loc = urlparse(
        spark.catalog.getDatabase(spark.catalog.currentDatabase()).locationUri
    ).path
    # orphan: a directory at the meta table's managed location with no
    # catalog entry behind it
    orphan = os.path.join(db_loc, f"{prefix}_meta")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "stale.txt"), "w") as fh:
        fh.write("leftover from a lost catalog")
    # bystander: same warehouse, similar name, NOT a published table
    bystander = os.path.join(db_loc, f"{prefix}_meta_backup")
    os.makedirs(bystander, exist_ok=True)
    with open(os.path.join(bystander, "precious.txt"), "w") as fh:
        fh.write("must survive")
    if kind == "ivf":
        ivf_index_publish(spark, _build_ivf(spark, tmp_path), prefix)
        probe = ann_ivf_topk_indexed(spark, None, [0.1] * 8, k=3, catalog_prefix=prefix)
        assert probe.count() == 3
    else:
        index = _build_index(spark, tmp_path)
        lsh_index_publish_bucketed(spark, index, prefix, n_buckets=4)
        got = dedup_against_index(
            spark, index, _docs_df(spark, [(9, _CORPUS[0][1])]), "doc_id",
            "text", catalog_prefix=prefix,
        ).collect()
        assert [(r.doc_id, r.dup_kind, r.match_id) for r in got] == [(9, "exact", 1)]
    with open(os.path.join(bystander, "precious.txt")) as fh:
        assert fh.read() == "must survive"


def test_ivf_ingest_budget_from_commit_log(spark, tmp_path, monkeypatch):
    """r9 verdict #2: budget admission must be index-size-independent.
    The handler derives appended-row counts from the index's append
    ledger (one {n_appended, build_id} record per batch, the same
    record its commit marker carries), so admitting a batch never lists
    or reads the standing vectors table. Pinned by file-access
    instrumentation: a spy on DataFrameReader.parquet records every
    read path during handler runs and the vectors root must not
    appear. Also pins: ledger sum == table-count delta after N
    batches, no double-count under crash-window redelivery, and budget
    reset across a rebuild (stale build_id records stop counting)."""
    import json

    import pytest
    from pyspark.sql.readwriter import DataFrameReader

    from mfdb_hafro_etl_spark.operators.similarity import build_ivf_index
    from mfdb_hafro_etl_spark.sinks.index import _IVF_META, _read_meta
    from mfdb_hafro_etl_spark.streaming.jobs import ivf_ingest_handler

    path = _build_ivf(spark, tmp_path)  # 40 built rows
    logd = str(tmp_path / "log_cl")
    vectors_root = os.path.join(path, "vectors")
    handle = ivf_ingest_handler(path, logd, max_appended_frac=0.5)  # 20

    seen: list[str] = []
    orig = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        seen.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)

    handle(_emb_df(spark, range(0, 8)), 0)
    handle(_emb_df(spark, range(8, 16)), 1)
    assert vectors_root not in seen, (
        "admission read the standing vectors table — budget accounting "
        "regressed to the O(index files) per-batch scan"
    )
    # markers are the commit log: n_appended + the build they belong to
    build_id = _read_meta(path, _IVF_META)["build_id"]
    recs = [
        json.loads(open(os.path.join(logd, "_commits", str(i))).read())
        for i in (0, 1)
    ]
    assert [r["n_appended"] for r in recs] == [8, 8]
    assert all(r["build_id"] == build_id for r in recs)
    # the ledger sum equals the true appended delta
    ledger = os.path.join(path, "_appends")
    total = 0
    for name in os.listdir(ledger):
        with open(os.path.join(ledger, name)) as fh:
            total += json.load(fh)["n_appended"]
    assert total == 16
    monkeypatch.setattr(DataFrameReader, "parquet", orig)
    assert len(_vec_rows(spark, path)) == 56  # 40 + 8 + 8
    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    # third batch would cross the 50% budget (16 + 8 > 20): refuse,
    # still without touching the vectors table
    seen.clear()
    with pytest.raises(ValueError, match="recluster budget"):
        handle(_emb_df(spark, range(16, 24)), 2)
    assert vectors_root not in seen
    assert not os.path.exists(os.path.join(logd, "_commits", "2"))
    # crash-window redelivery must not double-count: batch 1's marker
    # lost, redelivered -> marker restored with the same count, table
    # unchanged, and the budget refusal above still holds
    os.remove(os.path.join(logd, "_commits", "1"))
    handle(_emb_df(spark, range(8, 16)), 1)
    rec1 = json.loads(open(os.path.join(logd, "_commits", "1")).read())
    assert rec1["n_appended"] == 8
    monkeypatch.setattr(DataFrameReader, "parquet", orig)
    assert len(_vec_rows(spark, path)) == 56
    # rebuild resets the budget: new build_id, old markers stop
    # counting, so the previously-refused batch admits (8 <= 0.5 * 64)
    build_ivf_index(
        spark.read.parquet(vectors_root).select("vec_id", "embedding"),
        path,
        n_centroids=4,
        kmeans_iters=0,
        rebuild=True,
    )
    assert _read_meta(path, _IVF_META)["build_id"] != build_id
    handle(_emb_df(spark, range(16, 24)), 2)
    assert len(_vec_rows(spark, path)) == 64  # 56 rebuilt + 8


def test_ivf_compact_skips_mid_crash_window(spark, tmp_path):
    """r9 verdict #5, IVF family: the exactly-once rename discipline
    requires an uncommitted batch's ivfb_<token>.parquet files to
    SURVIVE until its marker exists — folding them into compacted
    files would make the redelivery re-append the rows. The handler
    marks in-flight batches under <index>/_ingest_pending, and
    ivf_index_compact leaves those tokens' files out of its listing:
    a compaction inside the crash window succeeds, the pending files
    keep their names and bytes, the redelivery converges to the
    committed rows, and the next compaction after the commit folds
    them. The post-marker short-circuit clears a sentinel orphaned by
    a crash after the marker write."""
    import hashlib

    from mfdb_hafro_etl_spark.operators.similarity import ivf_index_compact
    from mfdb_hafro_etl_spark.sinks.index import _stream_token
    from mfdb_hafro_etl_spark.streaming.jobs import ivf_ingest_handler

    path = _build_ivf(spark, tmp_path)
    logd = str(tmp_path / "log_mx")
    handle = ivf_ingest_handler(path, logd, max_appended_frac=1.0)
    handle(_emb_df(spark, range(0, 8)), 0)
    handle(_emb_df(spark, range(8, 16)), 1)
    committed = _vec_rows(spark, path)
    assert len(committed) == 56
    # crash window of batch 1: files renamed, marker lost, sentinel present
    token = _stream_token(logd, 1)
    os.remove(os.path.join(logd, "_commits", "1"))
    pend = os.path.join(path, "_ingest_pending", token)
    os.makedirs(os.path.dirname(pend), exist_ok=True)
    open(pend, "w").write("b1")

    def pending_files():
        return {
            os.path.join(d, f): hashlib.md5(open(os.path.join(d, f), "rb").read()).hexdigest()
            for d, _, fs in os.walk(os.path.join(path, "vectors"))
            for f in fs
            if f == f"ivfb_{token}.parquet"
        }

    pending = pending_files()
    assert pending
    rep = ivf_index_compact(spark, path)
    assert rep["files_before"] > rep["files_after"] > 0  # the committed files folded
    assert pending_files() == pending
    assert _vec_rows(spark, path) == committed
    # redelivery converges (same rows), commits, and clears the sentinel
    handle(_emb_df(spark, range(8, 16)), 1)
    assert _vec_rows(spark, path) == committed
    assert not os.path.exists(pend)
    ivf_index_compact(spark, path)
    assert not pending_files()
    assert _vec_rows(spark, path) == committed
    # crash AFTER the marker but before sentinel removal: the marker
    # short-circuit clears the orphan
    open(pend, "w").write("b1")
    handle(_emb_df(spark, range(8, 16)), 1)  # marker present -> no-op
    assert not os.path.exists(pend)


def test_lsh_compact_mid_crash_window_converges(spark, tmp_path):
    """r9 verdict #5, LSH family: unlike IVF, the dedup index ABSORBS
    duplicate rows (probes resolve min-id over the union, own-batch
    matches are excluded), so compaction inside the crash window is
    SAFE by semantics rather than forbidden by a sentinel — pinned
    here as the property: compact after the append, lose the marker,
    redeliver, and both the batch verdicts and a later probe are
    identical to a never-crashed twin index."""
    from mfdb_hafro_etl_spark.operators.dedup import (
        dedup_against_index,
        lsh_index_compact,
    )
    from mfdb_hafro_etl_spark.streaming.jobs import dedup_ingest_handler

    index = _build_index(spark, tmp_path, "idx_mx")
    twin = _build_index(spark, tmp_path, "idx_mx_twin")
    vdir, vtwin = str(tmp_path / "v_mx"), str(tmp_path / "v_mx_twin")
    handle = dedup_ingest_handler(index, vdir, "doc_id", "text")
    handle_twin = dedup_ingest_handler(twin, vtwin, "doc_id", "text")
    handle(_docs_df(spark, _B1), 0)
    handle_twin(_docs_df(spark, _B1), 0)
    # crash window + compaction mid-window, then redelivery
    os.remove(os.path.join(vdir, "_commits", "0"))
    lsh_index_compact(spark, index)
    handle(_docs_df(spark, _B1), 0)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(vdir, "batch_id=0")).collect()
    )
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(vtwin, "batch_id=0")).collect()
    )
    assert got == want
    # later probes see identical verdicts despite the duplicated rows
    probe = _docs_df(spark, [(99, _B1[1][1])])
    a = sorted(
        (r["doc_id"], r["dup_kind"], r["match_id"])
        for r in dedup_against_index(spark, index, probe, "doc_id", "text").collect()
    )
    b = sorted(
        (r["doc_id"], r["dup_kind"], r["match_id"])
        for r in dedup_against_index(spark, twin, probe, "doc_id", "text").collect()
    )
    assert a == b
