"""The write side of the engine's two standing indexes: the MinHash-LSH
dedup index (probed by operators.dedup.dedup_against_index through
_lsh_read) and the IVF ANN index (probed by
operators.similarity.ann_ivf_topk_indexed through _ivf_read and
_ivf_vectors).
Both follow the reference's pattern of dimension tables built once and
joined per import (R/initdb.R:151): the corpus side is materialized
once, increments are appended, accumulated files are compacted, and
the index can be published to catalog tables. The lifecycle is one
abstraction, not one per index type, so each shared piece exists once
here:

- the parameter meta file: retired first, written last, loud on
  mismatch (_read_meta, _retire_meta, _write_meta, _check_params);
- compaction: sinks.tables' one file-set compaction, whose IVF listing
  leaves out the files of appends with an ``_ingest_pending`` sentinel
  (lsh_index_compact, ivf_index_compact);
- catalog publish with orphan-location reclaim and a one-row meta
  table (_publish), and its reader (_catalog_meta);
- IVF append admission (_ivf_append), behind both ivf_index_append
  and streaming.jobs.ivf_ingest_handler;
- the IVF layout: build_ivf_index writes it, _ivf_read (meta and
  centroids) and _ivf_vectors read it, for a path or a catalog
  publication;
- the LSH layout (_lsh_write, _lsh_read) and the LSH ingest step
  (_lsh_ingest) behind streaming.jobs.dedup_ingest_handler.

The on-disk layout (meta files, the append ledger, the sentinels, the
staging area, and which function reads or writes each) is described
in README.md, "Index on-disk layout". Every mutual exclusion here is
check-then-act over the filesystem: airtight under a SINGLE driver
operating an index, with no cross-process lock.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mfdb_hafro_etl_spark.sinks import tables as _tables

#: parameter meta file of each index family
_LSH_META = "_index_meta.json"
_IVF_META = "_INDEX_OK"
#: LSH layout version recorded in its meta
_LSH_INDEX_VERSION = 1
#: in-flight append sentinels: one file per append between its first
#: staged write and its commit
_PENDING = "_ingest_pending"
#: IVF append ledger: one ``<token>.json`` {n_appended, build_id} per append
_LEDGER = "_appends"
#: IVF staged appends, one directory per token, renamed into vectors/
_STAGING = "_staging"


# ---------------------------------------------------------------- meta
def _read_meta(path: str, name: str) -> dict:
    """Load an index's parameter meta, failing LOUDLY
    (FileNotFoundError) when it is absent: a missing meta means a
    half-built or mid-rebuild index, and probing or appending against
    one silently serves wrong data."""
    with open(os.path.join(path, name)) as fh:
        return json.load(fh)


def _retire_meta(path: str, name: str) -> None:
    """The first step of every (re)build. With the meta gone, a crash
    before the final _write_meta leaves an index that fails loudly on
    the missing-meta path, never the OLD meta validating NEW (possibly
    mismatched-parameter) data."""
    try:
        os.remove(os.path.join(path, name))
    except FileNotFoundError:
        pass


def _write_meta(path: str, name: str, meta: dict) -> None:
    """The last step of every (re)build, so a probe never validates
    against a half-built index."""
    os.makedirs(path, exist_ok=True)
    _tables._write_json(os.path.join(path, name), meta)


def _check_params(meta: dict, params: dict, where: str) -> None:
    mismatched = {k: (meta.get(k), v) for k, v in params.items() if meta.get(k) != v}
    if mismatched:
        raise ValueError(
            f"index parameter mismatch at {where}: {mismatched} (stored, "
            "requested) — an index probed or appended with different "
            "parameters silently loses recall. Rebuild it, or pass the "
            "stored parameters."
        )


def _catalog_meta(spark: SparkSession, table_prefix: str) -> dict:
    """The one-row ``<prefix>_meta`` table written by _publish, loud on
    a torn publication."""
    rows = spark.table(f"{table_prefix}_meta").collect()
    if len(rows) != 1:
        raise ValueError(
            f"catalog index {table_prefix}_meta must hold exactly one row, "
            f"found {len(rows)} — the published index is torn"
        )
    return rows[0].asDict()


# --------------------------------------------------- append sentinels
def _clear_pending(path: str, token: str) -> None:
    try:
        os.remove(os.path.join(path, _PENDING, token))
    except FileNotFoundError:
        pass


# ------------------------------------------------------------- publish
def _save_reclaiming_orphan(
    spark: SparkSession, table: str, save: Callable[[str], object]
) -> None:
    """``save(table)`` (a saveAsTable), reclaiming an ORPHAN location
    exactly when it blocks the write: a managed-table directory left by
    an earlier session whose (in-memory/derby) catalog is gone. The
    retry fires only on the location-exists failure, and the path comes
    from the catalog's DATABASE location, not warehouse-root +
    lowercased name, so non-flat layouts and db-prefixed names resolve
    correctly. An unconditional rmtree before every save (the r9 shape)
    would delete an unrelated directory that merely shares the table's
    name under the warehouse root (r9 ADVICE)."""
    try:
        save(table)
        return
    except Exception as exc:
        msg = str(exc)
        if "LOCATION_ALREADY_EXISTS" not in msg and "already exists" not in msg:
            raise
        # Reclaim ONLY a true orphan: if the catalog still knows the
        # table (the DROP in _publish didn't apply — e.g. a same-named
        # VIEW shadowing it, or a concurrent re-create), the location
        # backs a live table and rmtree would destroy it.
        if spark.catalog.tableExists(table):
            raise
    from urllib.parse import urlparse

    db = table.rsplit(".", 1)[0] if "." in table else spark.catalog.currentDatabase()
    name = table.rsplit(".", 1)[-1]
    db_loc = urlparse(spark.catalog.getDatabase(db).locationUri).path
    if not db_loc:
        raise RuntimeError(
            f"cannot reclaim orphan location for {table}: database {db} "
            "has a non-filesystem location"
        )
    shutil.rmtree(os.path.join(db_loc, name.lower()), ignore_errors=True)
    save(table)


def _publish(
    spark: SparkSession,
    table_prefix: str,
    saves: dict[str, Callable[[str], object]],
    meta: dict[str, int],
) -> None:
    """Publish a path-backed index into catalog tables: ``saves[name]``
    writes ``<prefix>_<name>``, and a one-row ``<prefix>_meta`` carries
    ``meta`` for every catalog probe to validate. The meta table is
    retired FIRST and written LAST (the meta-file discipline): a crash
    mid-publish leaves a publication that fails loudly on the missing
    meta table, never a stale meta row validating mismatched data."""
    from mfdb_hafro_etl_spark.localrel import local_df

    for name in ("meta", *saves):
        spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_{name}")
    meta_row = local_df(
        spark,
        [tuple(int(v) for v in meta.values())],
        ", ".join(f"{k} INT" for k in meta),
    )
    saves = {
        **saves,
        "meta": lambda t: meta_row.write.mode("overwrite").format("parquet").saveAsTable(t),
    }
    for name, save in saves.items():
        _save_reclaiming_orphan(spark, f"{table_prefix}_{name}", save)


def _concurrently(spark: SparkSession, *writes: Callable[[], object]) -> None:
    """Run independent Spark writes as concurrent jobs (the scheduler
    interleaves their tasks) on threads that inherit the caller's job
    group and local properties; every future is joined."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        for f in [pool.submit(inherit(w)) for w in writes]:
            f.result()


# ------------------------------------------------------------ LSH index
# The layout: ``exact`` (h = md5 of the text, cid) and ``bands`` (cid,
# val) partitioned by band. _lsh_write writes it, _lsh_read reads it;
# the probe (operators.dedup._lsh_probe) sees only their columns.
def _lsh_write(b_hash: DataFrame, bands: DataFrame, id_col: str, path: str, mode: str) -> None:
    """Write one LSH file set from a batch's (id, h) hashes and (id,
    band, val) band table (operators.dedup._lsh_keys), behind
    lsh_index_write (``mode`` overwrite), lsh_index_append and
    _lsh_ingest (append). The two subtables are independent, so both
    write jobs run concurrently; a (re)build's meta write still happens
    strictly AFTER both commit."""
    cid = F.col(id_col).alias("cid")
    _concurrently(
        bands.sparkSession,
        lambda: bands.select(cid, "band", "val").write.mode(mode).partitionBy(
            "band"
        ).parquet(os.path.join(path, "bands")),
        lambda: b_hash.select("h", cid).write.mode(mode).parquet(os.path.join(path, "exact")),
    )


def _read_index_or_empty(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    """Read an index subtable, returning an empty frame with the
    expected schema when the directory holds no parquet data files a
    reader sees (the empty-corpus bootstrap). Genuine read failures
    (corrupt footers, schema drift, a MISSING directory) still
    propagate: only the exists-but-holds-no-data case short-circuits.
    A missing subtable dir under a surviving meta is a torn index —
    silently treating it as empty would mark every probe doc 'novel'
    (silent recall loss), so we raise instead."""
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"LSH index subtable directory {path} is missing while the "
            f"index meta survives — the index is torn; rebuild it rather "
            f"than probing an empty corpus."
        )
    if _tables.visible_files(path):
        return spark.read.parquet(path)
    return spark.createDataFrame([], ddl)


def _lsh_read(
    spark: SparkSession,
    path: str,
    params: dict,
    id_type: str,
    catalog_prefix: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The corpus side of an LSH probe, ``(exact, bands)`` with columns
    (h, cid) and (cid, val, band), after checking ``params`` against
    the index meta: from the parquet ``path``, or from the catalog
    publication ``catalog_prefix`` (lsh_index_publish_bucketed).
    ``id_type`` is the id column's SQL type, for an empty corpus."""
    if catalog_prefix is not None:
        _check_params(_catalog_meta(spark, catalog_prefix), params, catalog_prefix)
        return spark.table(f"{catalog_prefix}_exact"), spark.table(f"{catalog_prefix}_bands")
    _check_params(_read_meta(path, _LSH_META), params, path)
    # structural empty check, not schema inference: an index
    # bootstrapped from an EMPTY corpus (or one whose docs are all too
    # short to shingle) has subtable dirs with no data files — Spark's
    # partitionBy write of an empty frame emits only _SUCCESS — and a
    # raw read raises UNABLE_TO_INFER_SCHEMA. The meta check above
    # already authenticated the index, so a data-file-free subtable IS
    # the empty corpus, probed as an empty frame (every batch doc comes
    # back novel).
    return (
        _read_index_or_empty(spark, os.path.join(path, "exact"), f"h string, cid {id_type}"),
        _read_index_or_empty(
            spark, os.path.join(path, "bands"), f"cid {id_type}, val string, band int"
        ),
    )


def lsh_index_write(
    corpus: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
) -> None:
    """Materialize the corpus-side dedup index ONCE: the MinHash band
    table (``path``/bands, parquet partitioned by band) and the exact
    content-hash table (``path``/exact: md5, doc id). The corpus side
    of a standing dedup service is built alongside the corpus and
    PROBED per increment (operators.dedup.dedup_against_index), never
    recomputed.

    Appends (lsh_index_append) add one file set per increment;
    lsh_index_compact folds them back to scan-efficient sizes. The
    exact table stores RAW (hash, id) rows — min-id resolution happens
    at probe time over the (increment-sized) matched subset, which
    keeps appends blind-write-only: no read-modify-write race,
    idempotent retries by data_source are the caller's
    replace_by_source pattern. Parameters are pinned in the meta file
    and validated on every append/probe. At catalog-backed
    deployments, lsh_index_publish_bucketed buckets the band table by
    the probe keys so the probe join is shuffle-free on the corpus
    side."""
    from mfdb_hafro_etl_spark.operators.dedup import _lsh_keys

    _retire_meta(path, _LSH_META)
    _lsh_write(*_lsh_keys(corpus, id_col, text_col, n, k, rows_per_band), id_col, path, "overwrite")
    _write_meta(
        path,
        _LSH_META,
        {"version": _LSH_INDEX_VERSION, "n": n, "k": k, "rows_per_band": rows_per_band},
    )


def lsh_index_append(
    batch: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
) -> None:
    """Append one increment to a materialized dedup index (see
    lsh_index_write): checks the parameters against the meta, computes
    the increment's band + exact rows and blind-appends them —
    probe-vs-appended-index is row-identical to probe-vs-rebuilt-index
    (pinned by tests/test_corpus_ops.py) because both probes resolve
    min-id over the UNION of all appended rows."""
    from mfdb_hafro_etl_spark.operators.dedup import _lsh_keys

    _check_params(
        _read_meta(path, _LSH_META), {"n": n, "k": k, "rows_per_band": rows_per_band}, path
    )
    _lsh_write(*_lsh_keys(batch, id_col, text_col, n, k, rows_per_band), id_col, path, "append")


def lsh_index_compact(spark: SparkSession, path: str) -> dict:
    """Fold accumulated append files of both subtables back to
    scan-efficient sizes (sinks.tables.compact_partitions, which
    replaces exactly the files it listed, so an append committed while
    it runs survives); returns the per-subtable compaction reports.
    The LSH index needs no sentinel for a CRASHED ingest: it ABSORBS
    duplicate rows (probes resolve min-id over the union), so
    compacting inside a streaming crash window is safe by semantics.
    Probes are not snapshot-isolated during a compaction."""
    return {
        name: _tables.compact_partitions(spark, os.path.join(path, name))
        for name in ("bands", "exact")
    }


def lsh_index_publish_bucketed(
    spark: SparkSession,
    path: str,
    table_prefix: str,
    n_buckets: int = 32,
) -> None:
    """Publish a path-backed LSH index into catalog BUCKETED tables, so
    every probe reads the corpus side SHUFFLE-FREE: ``<prefix>_bands``
    bucketed on (band, val) — the probe join's exact keys — and
    ``<prefix>_exact`` bucketed on the content hash. Only the
    (increment-sized) batch side of each probe join shuffles, into
    n_buckets (pinned by tests/test_plan_quality.py). The parameters
    travel in the one-row ``<prefix>_meta`` table (_publish). Size
    n_buckets to the deployment: at 100 TB the band table wants
    hundreds of buckets, each a few GB."""
    meta = _read_meta(path, _LSH_META)  # loud on a half-built source index

    def bucketed(sub: str, keys: list[str]) -> Callable[[str], object]:
        return lambda t: _tables.materialize_bucketed(
            spark.read.parquet(os.path.join(path, sub)), t, keys, n_buckets
        )

    _publish(
        spark,
        table_prefix,
        {"bands": bucketed("bands", ["band", "val"]), "exact": bucketed("exact", ["h"])},
        {key: meta[key] for key in ("version", "n", "k", "rows_per_band")},
    )


# ------------------------------------------------------------ IVF index
# The layout: ``vectors`` (id, vector) partitioned by ``__cid__`` and
# ``centroids`` (cid, centroid), or the ``<prefix>_vectors`` and
# ``<prefix>_centroids`` tables of a catalog publication.
# build_ivf_index and _ivf_append write it, _ivf_read and _ivf_vectors
# read it; the probe (operators.similarity.ann_ivf_topk_indexed) sees
# only their columns.
def _centroid_list(cents: DataFrame) -> list[tuple[int, list[float]]]:
    """Collect a (cid, centroid) table to the driver-side list the
    probes and the assign kernel take (dimension-sized)."""
    return [(int(r[0]), [float(x) for x in r[1]]) for r in cents.collect()]


def _ivf_read(
    spark: SparkSession,
    path: str | None,
    catalog_prefix: str | None = None,
    cents_memo: dict | None = None,
) -> tuple[dict, list[tuple[int, list[float]]]]:
    """The meta and the driver-side centroid list of an IVF index: from
    the parquet ``path``, loud (FileNotFoundError) on a torn index with
    no meta file, or from the catalog publication ``catalog_prefix``
    (ivf_index_publish), loud on a torn meta table. ``cents_memo``: a
    dict a caller keeps across reads of one path, so the centroids,
    frozen per build, are collected once per build_id."""
    if catalog_prefix is not None:
        return (
            _catalog_meta(spark, catalog_prefix),
            _centroid_list(spark.table(f"{catalog_prefix}_centroids")),
        )
    meta = _read_meta(path, _IVF_META)
    memo = cents_memo if cents_memo is not None else {}
    if meta["build_id"] not in memo:
        memo.clear()  # one build live at a time
        memo[meta["build_id"]] = _centroid_list(
            spark.read.parquet(os.path.join(path, "centroids"))
        )
    return meta, memo[meta["build_id"]]


def _ivf_vectors(
    spark: SparkSession, path: str | None, catalog_prefix: str | None = None
) -> DataFrame:
    """The vectors table of an IVF index, partitioned by ``__cid__`` so
    a filter on it prunes partitions physically. It carries no meta
    check of its own: read it after _ivf_read."""
    if catalog_prefix is not None:
        return spark.table(f"{catalog_prefix}_vectors")
    return spark.read.parquet(os.path.join(path, "vectors"))


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rebuild: bool = False,
    kmeans_iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Materialize the IVF index: assign every vector to its nearest
    centroid and WRITE the table partitioned by ``__cid__``, plus the
    centroid table alongside. Probes against the materialized index
    are partition-pruned scans — a query touches n_probe/n_centroids
    of the data ON DISK, not just in the plan. Build cost is one
    narrow map + one partitioned write; at 100 TB this is the once-
    per-corpus indexing job that amortizes over every query.

    The assignment is a pure function of the source table and the
    parameters, so an existing index at ``path`` built with the same
    (n_centroids, kmeans_iters) is reused unless ``rebuild``. Returns
    the centroid list (also persisted under ``<path>/centroids`` so
    later sessions can probe without the source table)."""
    from mfdb_hafro_etl_spark.localrel import local_df
    from mfdb_hafro_etl_spark.operators.similarity import (
        _ivf_assign_table,
        _ivf_centroids,
        _kmeans_refine,
    )

    spark = emb.sparkSession
    params = {"n_centroids": n_centroids, "kmeans_iters": kmeans_iters}
    if not rebuild:
        try:
            built_with, built_cents = _ivf_read(spark, path)
        except (OSError, ValueError):
            built_with = None
        # an index built with different parameters is NOT valid for
        # this call — silently serving unrefined centroids to a
        # kmeans_iters>0 caller would change recall with no signal
        if built_with is not None and all(
            built_with.get(k) == v for k, v in params.items()
        ):
            return built_cents
    _retire_meta(path, _IVF_META)
    # the new build_id makes every old ledger record stale anyway
    shutil.rmtree(os.path.join(path, _LEDGER), ignore_errors=True)
    cents = _ivf_centroids(emb, n_centroids, id_col, vec_col)
    cents = _kmeans_refine(emb, cents, kmeans_iters, id_col, vec_col)
    fanned = emb.repartition(spark.sparkContext.defaultParallelism)
    assigned = _ivf_assign_table(fanned, cents, id_col, vec_col)
    # Shuffle to the cluster key before the partitioned write:
    # without it every map task writes a file per cluster it saw
    # (tasks × n_centroids small files); with it each partition
    # directory gets files from only the tasks owning that key.
    # partitionOverwriteMode=static for THIS write, whatever the session
    # conf says: a rebuild with fewer/refined centroids must truncate
    # ALL old __cid__= partitions — under dynamic overwrite, cells
    # absent from the new assignment would keep their stale files
    # behind a fresh meta
    assigned.repartition(n_centroids, F.col("__cid__")).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "static").partitionBy(
        "__cid__"
    ).parquet(os.path.join(path, "vectors"))
    local_df(
        spark, [(cid, cv) for cid, cv in cents], "cid INT, centroid ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    # rows_at_build + dims anchor the append admission (_ivf_append);
    # build_id gives every (re)build a distinct identity, so ledger
    # records from before a rebuild stop counting automatically
    _write_meta(
        path,
        _IVF_META,
        {
            **params,
            "rows_at_build": _ivf_vectors(spark, path).count(),
            "dims": len(cents[0][1]) if cents else 0,
            "build_id": uuid.uuid4().hex,
        },
    )
    return cents


def _stream_token(log_dir: str, batch_id: int) -> str:
    """The append token of a stream batch: deterministic in (log dir,
    batch_id), so a redelivery reuses its ledger record, sentinel and
    file names, and two streams into one index never collide."""
    digest = hashlib.md5(os.path.abspath(log_dir).encode()).hexdigest()[:12]
    return f"s{digest}b{batch_id}"


def _ledger_total(path: str, build_id: str, exclude: str) -> int:
    """Rows appended under ``build_id`` according to the ledger,
    without the record keyed ``exclude`` (the caller's own)."""
    ledger = os.path.join(path, _LEDGER)
    total = 0
    for name in os.listdir(ledger) if os.path.isdir(ledger) else []:
        if not name.endswith(".json") or name == f"{exclude}.json":
            continue
        with open(os.path.join(ledger, name)) as fh:
            rec = json.load(fh)
        if rec["build_id"] == build_id:
            total += int(rec["n_appended"])
    return total


def _ivf_append(
    batch: DataFrame,
    path: str,
    token: str,
    id_col: str,
    vec_col: str,
    max_appended_frac: float,
    where: str,
    cents_memo: dict | None = None,
) -> tuple[dict, int]:
    """The one IVF append routine, behind ivf_index_append (a unique
    token per call) and streaming.jobs.ivf_ingest_handler (a
    deterministic token per stream batch, _stream_token):

    1. ONE aggregate probe over the persisted batch answers the row
       count, min and max dims, and null count (the persist fills
       during this job, so the staging write reads cache);
    2. admission: the ledger's records for the current build_id,
       excluding this token's own (a redelivered batch counts once),
       plus this batch, against ``max_appended_frac`` of rows_at_build
       — O(#appends) driver-side reads, never a scan of the standing
       vectors table;
    3. the ``_ingest_pending`` sentinel, the staged write, the ledger
       record (before any row lands, so the ledger never under-counts
       vectors/), then each cell's single staged file os.replace'd to
       ``vectors/__cid__=<c>/ivfb_<token>.parquet``. A re-run with the
       same token re-stages the identical rows (assignment is a pure
       function of batch content and the frozen centroids) and
       re-replaces the same names, so vectors/ converges to exactly one
       copy of the batch.

    The caller commits, then clears the sentinel (_clear_pending).
    ``cents_memo``: a dict the caller keeps across appends to collect
    the centroids once per build_id. Returns the ledger record
    {n_appended, build_id} and the number of cells written."""
    from mfdb_hafro_etl_spark.operators.similarity import _ivf_assign_table

    spark = batch.sparkSession
    meta, cents = _ivf_read(spark, path, cents_memo=cents_memo)  # loud on a torn index
    build_id, rows_at_build, dims = meta["build_id"], int(meta["rows_at_build"]), int(meta["dims"])
    batch = batch.persist()
    try:
        stats = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size(F.col(vec_col))).alias("dmin"),
            F.max(F.size(F.col(vec_col))).alias("dmax"),
            F.sum(F.col(vec_col).isNull().cast("int")).alias("nnull"),
        ).collect()[0]
        n_rows = int(stats["n"])
        rec = {"n_appended": n_rows, "build_id": build_id}
        if not n_rows:
            return rec, 0
        dmin, dmax = stats["dmin"], stats["dmax"]
        # size(NULL) is -1 under legacy sizeOfNull and NULL under ANSI;
        # the explicit null count covers both, in any row
        if int(stats["nnull"] or 0) > 0 or dmin is None or int(dmin) < 0:
            raise ValueError(
                f"{where}: a {vec_col} is NULL — IVF assignment is "
                "undefined; filter upstream"
            )
        if dims and (int(dmin) != dims or int(dmax) != dims):
            raise ValueError(
                f"IVF index at {path} holds {dims}-dim vectors; {where} has "
                f"{dmin}..{dmax}-dim vectors."
            )
        appended_after = _ledger_total(path, build_id, token) + n_rows
        # Appended vectors are quantized by STALE centroids: cells drift
        # from the data's density and recall at fixed n_probe degrades
        # silently, so past the budget the append REFUSES (no
        # warn-and-proceed: a warning in a scheduled pipeline's log is
        # the same as silence)
        if rows_at_build and appended_after > max_appended_frac * rows_at_build:
            raise ValueError(
                f"IVF index at {path}: {where} of {n_rows} rows would put "
                f"{appended_after} appended rows over the recluster budget "
                f"({max_appended_frac:.0%} of {rows_at_build} built rows). "
                "Appended vectors are quantized by STALE centroids and "
                "recall degrades silently — rebuild with build_ivf_index("
                "..., rebuild=True), or raise max_appended_frac deliberately."
            )
        # the assign kernel's width follows the batch's OWN volume
        # (64 KB of vectors per task), capped at defaultParallelism:
        # kilobyte micro-batches get a few tasks, large appends the
        # full width
        est_bytes = n_rows * (dims * 8 + 16)
        par = spark.sparkContext.defaultParallelism
        fanned = batch.repartition(max(1, min(par, -(-est_bytes // (64 << 10)))))
        assigned = _ivf_assign_table(fanned, cents, id_col, vec_col)
        # the sentinel keeps renamed-but-uncommitted files out of
        # compaction, from BEFORE the staging write until the caller's
        # commit is durable
        os.makedirs(os.path.join(path, _PENDING), exist_ok=True)
        with open(os.path.join(path, _PENDING, token), "w") as fh:
            fh.write(token)
        staging = os.path.join(path, _STAGING, token)
        assigned.repartition(len(cents), F.col("__cid__")).write.mode(
            "overwrite"
        ).partitionBy("__cid__").parquet(staging)
        os.makedirs(os.path.join(path, _LEDGER), exist_ok=True)
        _tables._write_json(os.path.join(path, _LEDGER, f"{token}.json"), rec)
        n_cells = 0
        for cdir in sorted(os.listdir(staging)):
            if not cdir.startswith("__cid__="):
                continue
            parts = [
                f for f in os.listdir(os.path.join(staging, cdir)) if f.endswith(".parquet")
            ]
            if len(parts) != 1:
                # repartition-by-key writes exactly one file per cell;
                # >1 would break name determinism (and so convergence)
                raise RuntimeError(
                    f"staged cell {cdir} holds {len(parts)} data files "
                    "(expected 1) — maxRecordsPerFile or a changed write "
                    "path broke the exactly-once rename discipline"
                )
            dest_dir = os.path.join(path, "vectors", cdir)
            os.makedirs(dest_dir, exist_ok=True)
            os.replace(
                os.path.join(staging, cdir, parts[0]),
                os.path.join(dest_dir, f"ivfb_{token}.parquet"),
            )
            n_cells += 1
        shutil.rmtree(staging, ignore_errors=True)
        return rec, n_cells
    finally:
        batch.unpersist()


def _require_numeric_id(schema, id_col: str) -> None:
    """The LSH ingest's id contract, checked by _lsh_ingest on every
    batch and by streaming.jobs.stream_dedup_ingest before it starts:
    the intra-batch running-min uses a RANGE window frame over the id
    (ties excluded), and range frames need a numeric ordering key."""
    from pyspark.sql.types import NumericType

    id_type = schema[id_col].dataType
    if not isinstance(id_type, NumericType):
        raise TypeError(
            f"the LSH dedup ingest requires a numeric id column for its "
            f"tie-safe RANGE windows; {id_col!r} is {id_type.simpleString()}. "
            f"Cast or derive a numeric surrogate id, or use "
            f"dedup_against_index batch-side, which supports string ids."
        )


def _lsh_ingest(
    batch: DataFrame,
    path: str,
    verdict_path: str,
    id_col: str,
    text_col: str,
    n: int,
    k: int,
    rows_per_band: int,
) -> None:
    """The one LSH ingest step, behind
    streaming.jobs.dedup_ingest_handler: probe one increment against
    the index at ``path`` with its own ids excluded, dedup it within
    itself (min id wins), write its verdicts (id, dup_kind, match_id,
    origin) to ``verdict_path`` (overwrite) and append its novel docs
    to the index. An empty batch writes nothing.

    Every write is a blind write of a deterministic function of the
    batch content, so a re-run reproduces the verdicts bit-identically
    and re-appends identical index rows, which the probe's min-id
    resolution absorbs; the caller's commit marker only skips the
    redundant work."""
    from pyspark.sql.window import Window

    from mfdb_hafro_etl_spark.operators.dedup import _lsh_keys, _lsh_probe

    _require_numeric_id(batch.schema, id_col)
    spark = batch.sparkSession
    batch = batch.persist()  # probed by 3 consumers below
    pins = [batch]
    try:
        if batch.isEmpty():
            return
        # size the increment's minhash fan-out to the stream's state
        # width (auto_state_partitions: source-bytes-scaled,
        # 2×parallelism-capped) instead of the batch default
        # defaultParallelism — a kilobyte micro-batch otherwise
        # schedules 32-task md5/aggregate stages per trigger (measured
        # −0.5 s/arm at sf0.1; at scale the state width reaches
        # 2×parallelism and the fan-out is as wide as before)
        band_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # the batch's md5 and band tables feed the corpus probe, the
        # intra-batch dedup, AND the index append: compute each ONCE and
        # pin (uncached, the minhash md5 pass over the shingle explode
        # would run three times)
        b_hash, bands = (
            t.persist()
            for t in _lsh_keys(batch, id_col, text_col, n, k, rows_per_band, band_width)
        )
        pins += [b_hash, bands]
        # 1) verdicts vs the standing corpus. Matches against this
        # batch's OWN ids are excluded BEFORE min-id resolution: a batch
        # redelivered after a crash in the append-to-marker window then
        # reproduces the first delivery's verdicts (its admissions are
        # already in the index but can never match themselves), keeping
        # the at-least-once foreachBatch contract effectively
        # exactly-once for the verdict log.
        vs_corpus = _lsh_probe(
            b_hash,
            bands,
            *_lsh_read(
                spark,
                path,
                {"n": n, "k": k, "rows_per_band": rows_per_band},
                batch.schema[id_col].dataType.simpleString(),
            ),
            id_col,
            exclude=batch.select(id_col),
        ).withColumn("origin", F.lit("corpus"))
        # 2) intra-batch first-occurrence dedup, deterministic (min id
        # wins) so the admitted set is a pure function of the batch
        # content — redelivery-stable. Both arms are running-min windows
        # (min id among STRICTLY smaller-id group-mates; NULL = first
        # occurrence): one shuffle of increment-sized rows each, where
        # the natural aggregate+self-join formulation shuffles the batch
        # twice and joins — the same answer, measured ~25% faster per
        # micro-batch and strictly fewer exchanges at any scale. RANGE
        # frames, not ROWS: a ROWS frame includes TIED ids (an upstream
        # that re-emits the same record twice inside one file would flag
        # the doc as an exact duplicate of ITSELF and never admit it),
        # while a range frame over the numeric id excludes ties — the
        # strict c.id < b.id the sequential contract (and the arm's SQL
        # oracle) specifies.
        def running_min(keys: DataFrame, *part: str) -> DataFrame:
            w = (
                Window.partitionBy(*part)
                .orderBy(F.col(id_col))
                .rangeBetween(Window.unboundedPreceding, -1)
            )
            return keys.select(F.col(id_col), F.min(id_col).over(w).alias("match_id")).filter(
                F.col("match_id").isNotNull()
            )

        def from_batch(matches: DataFrame, kind: str) -> DataFrame:
            return matches.select(
                F.col(id_col),
                F.lit(kind).alias("dup_kind"),
                "match_id",
                F.lit("batch").alias("origin"),
            )

        intra_exact = from_batch(running_min(b_hash, "h"), "exact")
        intra_near = from_batch(
            running_min(bands, "band", "val")
            .groupBy(id_col)
            .agg(F.min("match_id").alias("match_id")),
            "near",
        )
        # 3) one verdict per id: exact beats near, corpus beats batch,
        # then smallest match id — a total order, so the verdict log is
        # deterministic.
        verdicts = (
            vs_corpus.unionByName(intra_exact)
            .unionByName(intra_near)
            .groupBy(id_col)
            .agg(
                F.min(
                    F.struct(
                        F.when(F.col("dup_kind") == "exact", 0).otherwise(1).alias("kr"),
                        F.when(F.col("origin") == "corpus", 0).otherwise(1).alias("orr"),
                        F.col("match_id"),
                        F.col("dup_kind"),
                        F.col("origin"),
                    )
                ).alias("v")
            )
            .select(
                F.col(id_col),
                F.col("v.dup_kind").alias("dup_kind"),
                F.col("v.match_id").alias("match_id"),
                F.col("v.origin").alias("origin"),
            )
            .persist()
        )
        pins.append(verdicts)
        # EAGER fill before forking the sink writes (the eager-cache-
        # barrier rule, session.release_cached_intermediates docstring):
        # the verdict write and the two index-append writes run as
        # CONCURRENT jobs, and concurrent first consumers of a lazy cache
        # each recompute the whole probe chain (corpus probe +
        # intra-batch windows — the batch's real work) instead of
        # reading it once. One id-sized count materializes verdicts AND
        # the upstream b_hash/bands pins; the writes then run
        # cache-served.
        verdicts.count()
        # 4) admit the novel docs (the pinned tables minus flagged ids)
        # to the index and overwrite this batch's verdicts. The three
        # writes (index bands, index exact, verdict log) are independent
        # sinks of one deterministic batch computation, so they run as
        # concurrent Spark jobs; a re-run after a crash anywhere in this
        # window reproduces every write bit-identically (own-batch match
        # exclusion + min-id absorption), so no relative ordering
        # between them matters.
        flagged = verdicts.select(id_col)
        _concurrently(
            spark,
            lambda: _lsh_write(
                b_hash.join(flagged, on=id_col, how="left_anti"),
                bands.join(flagged, on=id_col, how="left_anti"),
                id_col,
                path,
                "append",
            ),
            lambda: verdicts.write.mode("overwrite").parquet(verdict_path),
        )
    finally:
        for p in pins:
            p.unpersist()


def ivf_index_append(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_appended_frac: float = 0.25,
) -> None:
    """Append one increment of vectors to a materialized IVF index
    (build_ivf_index) WITHOUT re-clustering: the batch is assigned to
    the index's EXISTING centroids and renamed into the matching
    ``__cid__=`` partitions (_ivf_append, the routine the streaming
    ingest runs too) — probe-vs-appended-index is row-identical to
    probe-vs-rebuilt-with-the-same-centroids (pinned by
    tests/test_corpus_ops.py), because probes scan whole partitions
    and scoring within a cell is exact.

    RECLUSTER POLICY: appended vectors are quantized by STALE
    centroids, so the append REFUSES once the rows appended under the
    current build — batch appends and stream batches alike, summed
    from the append ledger — would exceed ``max_appended_frac`` of the
    built rows. build_ivf_index(..., rebuild=True) re-derives the
    centroids and resets the budget. NULL vectors and vectors whose
    dimension differs from the index's refuse loudly in any row.

    Run ivf_index_compact periodically: every append adds one file
    per touched cell."""
    token = f"a{uuid.uuid4().hex}"
    try:
        _ivf_append(batch, path, token, id_col, vec_col, max_appended_frac, "append batch")
    finally:
        _clear_pending(path, token)


def ivf_index_compact(spark: SparkSession, path: str) -> dict:
    """Fold append-accumulated small files in the IVF vectors table
    back to scan-efficient sizes, cell by cell, row set invariant
    (sinks.tables.compact_listed); returns its report. The
    ``ivfb_<token>.parquet`` files of every token with an
    ``_ingest_pending`` sentinel are left out: a crash-window
    redelivery re-replaces them by name, so folding them would
    duplicate their rows. The files are listed BEFORE the sentinels
    are read, so a file renamed in between is never folded while its
    sentinel goes unseen. An orphaned sentinel only keeps its batch's
    files out. Probes are not snapshot-isolated during a compaction."""
    vectors, pending = os.path.join(path, "vectors"), os.path.join(path, _PENDING)
    listing = _tables.compaction_listing(vectors)
    skip = {f"ivfb_{t}.parquet" for t in (os.listdir(pending) if os.path.isdir(pending) else [])}
    listing = {c: [f for f in fs if os.path.basename(f) not in skip] for c, fs in listing.items()}
    return _tables.compact_listed(spark, vectors, listing)


def ivf_index_publish(
    spark: SparkSession,
    path: str,
    table_prefix: str,
) -> None:
    """Publish a path-backed IVF index (build_ivf_index) into catalog
    tables, so a standing similarity service probes by TABLE NAME:
    ``<prefix>_vectors`` saved PARTITIONED on ``__cid__`` (the probe's
    pruning key — a catalog probe reads n_probe of n_centroids
    partitions physically, pinned by tests/test_plan_quality.py),
    ``<prefix>_centroids`` (dimension-sized), and the one-row
    ``<prefix>_meta`` carrying the build parameters (_publish)."""
    meta = _read_meta(path, _IVF_META)  # loud on a half-built source index

    def save_vectors(table: str) -> None:
        _ivf_vectors(spark, path).repartition(
            int(meta["n_centroids"]), F.col("__cid__")
        ).write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy(
            "__cid__"
        ).format("parquet").saveAsTable(table)

    def save_centroids(table: str) -> None:
        spark.read.parquet(os.path.join(path, "centroids")).coalesce(1).write.mode(
            "overwrite"
        ).format("parquet").saveAsTable(table)

    _publish(
        spark,
        table_prefix,
        {"vectors": save_vectors, "centroids": save_centroids},
        {key: meta[key] for key in ("n_centroids", "kmeans_iters", "rows_at_build", "dims")},
    )
