"""Suite queries for the sink, file-source, and streaming packages.

These operators have side effects (writes, driver-visible files,
streaming state), so each query is built to be IDEMPOTENT — repeated
invocations (bench warm-up + timed run, driver retries) rewrite the
same scratch state and return the same result. Scratch lives under
/tmp/mfdb_suite/<query>_<sf>; the testdata itself is never touched.
"""

from __future__ import annotations

import csv
import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mfdb_hafro_etl_spark import streaming as st
from mfdb_hafro_etl_spark.catalog import load_table
from mfdb_hafro_etl_spark.session import ensure_package_shipped
from mfdb_hafro_etl_spark.sinks import read_fact, replace_by_source
from mfdb_hafro_etl_spark.sources import (
    fan_out_tolerant,
    read_legacy_family,
    union_families,
)
from mfdb_hafro_etl_spark.suite import register

SCRATCH = "/tmp/mfdb_suite"

_mem_names = itertools.count()


def _scratch(query: str, sf_dir: str) -> str:
    tok = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(SCRATCH, f"{query}_{tok}")
    return path


def _mem(prefix: str) -> str:
    return f"{prefix}_{next(_mem_names)}"


# ------------------------------------------------- s15 replace-by-source
@register(
    "s15_replace_by_source",
    """
    SELECT CASE WHEN l_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END AS data_source,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM lineitem GROUP BY 1
    """,
)
def s15_replace_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent fact import (reference mfdb_import_survey,
    R/initdb.R:286-288): the fact table is partitioned by
    data_source; importing a source is a dynamic-partition overwrite
    that swaps exactly that source's partition. The query imports the
    'even' source twice — first a garbage version, then the real one —
    and the oracle only matches if the second import fully REPLACED
    the first (no duplicate/stale rows) while 'odd' stayed intact."""
    path = _scratch("s15_fact", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    fact = li.select(
        F.col("l_orderkey").alias("k"),
        (F.col("l_orderkey") % 2 == 0).alias("is_even"),
        F.col("l_quantity").alias("qty"),
    )
    odd = fact.filter(~F.col("is_even")).drop("is_even")
    even = fact.filter(F.col("is_even")).drop("is_even")
    replace_by_source(odd, path, "odd")
    replace_by_source(even.withColumn("qty", F.col("qty") * 0), path, "even")  # stale v1
    replace_by_source(even, path, "even")  # re-import replaces v1
    return (
        read_fact(spark, path)
        .groupBy("data_source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("qty"), 2).alias("total_qty"),
        )
    )


# ---------------------------------------------- s7 heterogeneous ingest

_S7_JUNK = ["# legacy export\n", "# col header junk\n"]


def _write_legacy_files(spark: SparkSession, sf_dir: str, base: str) -> None:
    """Derive two legacy file families from the nation table (25 rows
    — driver-side by design: the reference's legacy files ARE
    external driver-visible inputs, SURVEY S7)."""
    rows = sorted(
        load_table(spark, sf_dir, "nation").collect(),
        key=lambda r: r.n_nationkey,
    )
    fam_a = os.path.join(base, "fam_a")
    fam_b = os.path.join(base, "fam_b")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(fam_a)
    os.makedirs(fam_b)
    # family A: tab-separated, 2 junk lines, order (key, name, region)
    with open(os.path.join(fam_a, "afli.1990"), "w", newline="") as f:
        f.writelines(_S7_JUNK)
        w = csv.writer(f, delimiter="\t")
        for r in rows:
            if r.n_nationkey % 2 == 0:
                w.writerow([r.n_nationkey, r.n_name, r.n_regionkey])
    # family B: ';'-separated, no junk, order (name, region, key)
    with open(os.path.join(fam_b, "ready.1"), "w", newline="") as f:
        w = csv.writer(f, delimiter=";")
        for r in rows:
            if r.n_nationkey % 2 == 1:
                w.writerow([r.n_name, r.n_regionkey, r.n_nationkey])


@register(
    "s7_glob_ingest",
    """
    SELECT n_regionkey AS region, COUNT(*) AS n, MIN(n_name) AS first_name
    FROM nation GROUP BY 1
    """,
)
def s7_glob_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-file heterogeneous legacy ingest (reference
    R/initdb_shrimp.R:526-544): two file families with different
    separators, column orders, and leading junk lines, read with
    explicit positional schemas, unioned by name, aggregated. The
    oracle over the source table only matches if no row was lost,
    re-typed, or mis-renamed in the round trip."""
    base = _scratch("s7_files", sf_dir)
    _write_legacy_files(spark, sf_dir, base)
    fam_a = read_legacy_family(
        spark,
        os.path.join(base, "fam_a", "afli.*"),
        ["key", "name", "region"],
        ["bigint", "string", "int"],
        sep="\t",
        skip_rows=len(_S7_JUNK),
    )
    fam_b = read_legacy_family(
        spark,
        os.path.join(base, "fam_b", "ready*"),
        ["name", "region", "key"],
        ["string", "int", "bigint"],
        sep=";",
    )
    return (
        union_families([fam_a, fam_b])
        .groupBy(F.col("region"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("name").alias("first_name"))
        .withColumnRenamed("region", "region")
    )


# --------------------------------------------------- s6 tolerant fan-out
@register(
    "s6_fanout_tolerant",
    """
    SELECT r.r_name AS species, COUNT(*) AS n
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def s6_fanout_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity file fan-out with error tolerance (reference
    R/initdb.R:449-458): one CSV per region entity (plus two entities
    whose files don't exist — they must contribute zero rows, not
    fail), every row tagged with its entity, single distributed scan."""
    base = _scratch("s6_files", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rows = nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        "r_name", "n_nationkey", "n_name"
    ).collect()
    by_region: dict[str, list] = {}
    for r in rows:
        by_region.setdefault(r.r_name, []).append(r)
    for rname, rs in by_region.items():
        with open(os.path.join(base, f"{rname}.csv"), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["nationkey", "name"])
            for r in sorted(rs, key=lambda x: x.n_nationkey):
                w.writerow([r.n_nationkey, r.n_name])
    entities = sorted(by_region) + ["ATLANTIS", "LEMURIA"]  # two missing
    df = fan_out_tolerant(
        spark,
        entities,
        lambda e: os.path.join(base, f"{e}.csv"),
        "nationkey BIGINT, name STRING",
        tag_col="species",
    )
    return df.groupBy("species").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------- streaming queries
@register(
    "x_stream_tumbling",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def x_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming watermarked tumbling-window aggregate,
    run to exhaustion with availableNow and verified against the
    batch oracle — same semantics as x_events_tumbling, incremental
    execution."""
    ev = st.read_events_stream(spark, sf_dir)
    agg = st.stream_tumbling_agg(ev, window="1 hour", watermark="2 hours")
    return st.run_available_now(agg, _mem("stream_tumbling"), output_mode="complete", state_partitions=st.auto_state_partitions(spark, sf_dir))


@register(
    "x_stream_dedup",
    """
    SELECT event_type, COUNT(*) AS n
    FROM (SELECT DISTINCT user_id, event_type, ts FROM events)
    GROUP BY 1
    """,
)
def x_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with watermark-bounded state
    (dropDuplicatesWithinWatermark), verified against batch
    DISTINCT.

    Project to the dedup keys BEFORE the stateful op: streaming
    stateful operators carry every input column through state and
    sink, and Catalyst won't prune through them — unprojected, the
    x100 replay shipped ~100-byte rows (props json included) where
    24-byte key tuples suffice. Combined with the distributed sink
    past 64 MB of source this took the arm 35.1 s → 13.9 s at the
    100× fixture (the memory sink's driver collection of 10⁷ rows
    was the bottleneck, same pathology as x_stream_sessionize)."""
    ev = st.read_events_stream(spark, sf_dir).select("user_id", "event_type", "ts")
    dd = st.stream_dedup(ev, ["user_id", "event_type", "ts"], watermark="2 hours")
    out = st.run_available_now(
        dd,
        _mem("stream_dedup"),
        state_partitions=st.auto_state_partitions(spark, sf_dir),
        sink_dir=st.auto_sink_dir("stream_dedup", sf_dir),
    )
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@register(
    "x_stream_sessionize",
    """
    WITH lagged AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    starts AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR (epoch_us(ts) / 1000000.0 - epoch_us(prev_ts) / 1000000.0) > 1800.0
                     THEN 1 ELSE 0 END AS is_start
      FROM lagged
    ),
    sess AS (
      SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM starts
    )
    SELECT user_id, CAST(session_no AS INT) AS session_no,
           COUNT(*) AS n_events,
           ROUND(MAX(epoch_us(ts) / 1000000.0) - MIN(epoch_us(ts) / 1000000.0), 3) AS duration_s
    FROM sess GROUP BY 1, 2
    """,
)
def x_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization
    via applyInPandasWithState (per-user open-session state carried
    across micro-batches), finalized from the update log and verified
    against the batch window-function sessionizer."""
    ensure_package_shipped(spark)
    ev = st.read_events_stream(spark, sf_dir)
    updates = st.stream_sessionize(ev)
    # the update log is ~one row per (touched session, batch): driver
    # memory-sink collection is fine at verification scale but a
    # driver bottleneck at 10⁷+ rows — auto_sink_dir switches to the
    # distributed foreachBatch→parquet sink once the source is big
    # enough that the log plausibly is too (measured at the 100×
    # fixture: 41.5 s memory sink vs 36.0 s distributed, and the gap
    # grows with data)
    log = st.run_available_now(
        updates,
        _mem("stream_sessions"),
        output_mode="update",
        state_partitions=st.auto_state_partitions(spark, sf_dir),
        sink_dir=st.auto_sink_dir("stream_sessions", sf_dir),
    )
    return st.finalize_session_updates(log)


# ------------------------------------------- streaming dedup ingestion
def _stream_ingest_oracle() -> str:
    """DuckDB replay of two sequential micro-batches through the
    standing-index dedup (streaming.jobs.stream_dedup_ingest):
    role 0 = pre-built corpus index (doc_id % 10 == 0), batch 1 =
    odd ids, batch 2 = the rest. Candidates carry (kr, orr) rank
    bits — exact beats near, corpus beats batch-mate — and each doc
    keeps its minimal (kr, orr, match_id), exactly the handler's
    min-struct resolution. Batch 2 probes idx1 = corpus + batch-1
    admissions, which IS the sequential-admission semantics."""
    from mfdb_hafro_etl_spark.suite.extensions import _incr_bands_sql, _SH_SQL

    def _cands(role: int, idx: str) -> str:
        # corpus arms join the standing index as of this batch;
        # batch arms join smaller-id batch-mates
        return f"""
      SELECT b.doc_id, 0 AS kr, 0 AS orr, MIN(c.doc_id) AS match_id
      FROM hr b JOIN hr c ON b.h = c.h JOIN {idx} i ON c.doc_id = i.doc_id
      WHERE b.role = {role} GROUP BY b.doc_id
      UNION ALL
      SELECT b.doc_id, 1, 0, MIN(c.doc_id)
      FROM br b JOIN br c ON b.band = c.band AND b.val = c.val
                JOIN {idx} i ON c.doc_id = i.doc_id
      WHERE b.role = {role} GROUP BY b.doc_id
      UNION ALL
      SELECT b.doc_id, 0, 1, MIN(c.doc_id)
      FROM hr b JOIN hr c ON b.h = c.h AND c.role = {role}
                AND c.doc_id < b.doc_id
      WHERE b.role = {role} GROUP BY b.doc_id
      UNION ALL
      SELECT b.doc_id, 1, 1, MIN(c.doc_id)
      FROM br b JOIN br c ON b.band = c.band AND b.val = c.val
                AND c.role = {role} AND c.doc_id < b.doc_id
      WHERE b.role = {role} GROUP BY b.doc_id"""

    return f"""
    WITH {_SH_SQL},
    {_incr_bands_sql()},
    r AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN 0
                  WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS role
      FROM documents
    ),
    hr AS (
      SELECT d.doc_id, md5(d.text) AS h, r.role
      FROM documents d JOIN r ON d.doc_id = r.doc_id
    ),
    br AS (
      SELECT b.doc_id, b.band, b.val, r.role
      FROM ibands b JOIN r ON b.doc_id = r.doc_id
    ),
    idx0 AS (SELECT doc_id FROM r WHERE role = 0),
    c1 AS ({_cands(1, "idx0")}),
    v1 AS (
      SELECT doc_id, kr, orr, match_id FROM (
        SELECT c1.*, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY kr, orr, match_id) AS rn
        FROM c1
      ) t WHERE rn = 1
    ),
    idx1 AS (
      SELECT doc_id FROM idx0
      UNION ALL
      SELECT doc_id FROM r
      WHERE role = 1 AND doc_id NOT IN (SELECT doc_id FROM v1)
    ),
    c2 AS ({_cands(2, "idx1")}),
    v2 AS (
      SELECT doc_id, kr, orr, match_id FROM (
        SELECT c2.*, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY kr, orr, match_id) AS rn
        FROM c2
      ) t WHERE rn = 1
    ),
    allv AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT doc_id,
           CASE WHEN kr = 0 THEN 'exact' ELSE 'near' END AS dup_kind,
           match_id,
           CASE WHEN orr = 0 THEN 'corpus' ELSE 'batch' END AS origin
    FROM allv
    """


def _stage_single_file(df: DataFrame, src_dir: str, name: str, mtime: int) -> None:
    """Write ``df`` as ONE parquet file named ``name`` with a pinned
    mtime, so maxFilesPerTrigger=1 makes it exactly one deterministic
    micro-batch. Verification harness only: the single-file squeeze is
    how the finite fixture gets reproducible batch boundaries, not the
    production shape (there, files arrive from the crawler and each
    is already a natural increment)."""
    stage = os.path.join(src_dir, f"__stage_{name}")
    df.repartition(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    dest = os.path.join(src_dir, name)
    os.replace(os.path.join(stage, part), dest)
    shutil.rmtree(stage, ignore_errors=True)
    os.utime(dest, (mtime, mtime))


@register("x_stream_dedup_ingest", _stream_ingest_oracle())
def x_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup ingestion against a standing materialized LSH
    index (streaming.jobs.stream_dedup_ingest): the corpus slice
    (doc_id % 10 == 0) is indexed once with dedup.lsh_index_write,
    the rest streams through availableNow in two file-bounded
    micro-batches; each batch is probed against the index (exact md5
    + MinHash LSH bands), deduplicated within itself (min id wins),
    and its novel docs are appended so batch 2 dedups against batch
    1's admissions. The oracle replays both batches sequentially in
    SQL — including the exact-beats-near / corpus-beats-batch verdict
    precedence and the admission of unflagged docs into the index."""
    from mfdb_hafro_etl_spark.operators.dedup import lsh_index_write

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = st.staging_dir("stream_dedup_ingest", sf_dir)
    idx = os.path.join(base, "idx")
    vdir = os.path.join(base, "verdicts")
    src = os.path.join(base, "src")
    os.makedirs(src, exist_ok=True)
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    lsh_index_write(corpus, idx, "doc_id", "text", n=3, k=8, rows_per_band=2)
    d = F.col("doc_id")
    _stage_single_file(docs.filter((d % 10 != 0) & (d % 2 == 1)), src, "b1.parquet", 1_000)
    _stage_single_file(docs.filter((d % 10 != 0) & (d % 2 == 0)), src, "b2.parquet", 1_001)
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    return st.stream_dedup_ingest(
        stream, idx, vdir, "doc_id", "text", n=3, k=8, rows_per_band=2,
        # size state to the table this arm actually streams: sizing a
        # documents stream from events bytes starves it at fixtures
        # where documents dominates
        state_partitions=st.auto_state_partitions(spark, sf_dir, table="documents"),
    )


# --------------------------------------- streaming IVF index ingest
_STREAM_IVF_SQL = """
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
    cent AS (SELECT vec_id AS cid, v AS cv FROM emb
             WHERE vec_id >= 200 ORDER BY vec_id LIMIT 16),
    assign AS (
      SELECT e.vec_id, e.v,
        (SELECT c.cid FROM cent c
         ORDER BY ROUND(list_dot_product(e.v, c.cv) /
                        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                  c.cid
         LIMIT 1) AS cid
      FROM emb e
    ),
    probes AS (
      SELECT c.cid FROM cent c, q
      ORDER BY ROUND(list_dot_product(q.qv, c.cv) /
                     (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
               c.cid
      LIMIT 4
    )
    SELECT a.vec_id,
           ROUND(list_dot_product(a.v, q.qv) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
    FROM assign a, q
    WHERE a.cid IN (SELECT cid FROM probes) AND a.vec_id <> 0
    ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


@register("x_stream_ivf_ingest", _STREAM_IVF_SQL)
def x_stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full standing-ANN-service topology in one arm
    (streaming.jobs.stream_ivf_ingest + similarity.ivf_index_publish +
    ann_ivf_topk_indexed by catalog_prefix): the corpus slice (vec_id
    >= 200) is indexed once (build_ivf_index, seed centroids so the
    oracle can mirror them), the rest streams in as two availableNow
    micro-batches appended exactly-once under the recluster budget,
    the grown index is published to catalog tables partitioned on the
    cluster id, and the probe runs against the CATALOG — a
    partition-pruned scan by table name. Because appends assign
    against the index's frozen centroids, probe-vs-streamed-in equals
    probe-vs-rebuilt-with-the-same-centroids, so the oracle is the
    one-shot assignment over the whole corpus with the build slice's
    seed centroids. max_appended_frac=1.0 is the fixture's deliberate
    loosening (the streamed slice is 2/3 of the built rows at sf0.01);
    production keeps the default 25% budget."""
    from mfdb_hafro_etl_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    base = st.staging_dir("stream_ivf_ingest", sf_dir)
    idx = os.path.join(base, "idx")
    logd = os.path.join(base, "log")
    src = os.path.join(base, "src")
    os.makedirs(src, exist_ok=True)
    vid = F.col("vec_id")
    sim.build_ivf_index(
        emb.filter(vid >= 200), idx, n_centroids=16, kmeans_iters=0
    )
    _stage_single_file(emb.filter((vid < 200) & (vid % 2 == 1)), src, "b1.parquet", 1_000)
    _stage_single_file(emb.filter((vid < 200) & (vid % 2 == 0)), src, "b2.parquet", 1_001)
    stream = (
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    st.stream_ivf_ingest(
        stream, idx, logd, "vec_id", "embedding", max_appended_frac=1.0,
        state_partitions=st.auto_state_partitions(spark, sf_dir, table="embeddings"),
    )
    tok = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    prefix = f"ivf_pub_{tok}"
    sim.ivf_index_publish(spark, idx, prefix)
    qvec = [float(x) for x in emb.filter(vid == 0).select("embedding").first()[0]]
    return sim.ann_ivf_topk_indexed(
        spark, None, qvec, k=10, n_probe=4, exclude_id=0, catalog_prefix=prefix
    )
