"""Materialization + dimensional-import sinks.

The reference has three kinds of write barrier (SURVEY §3):

- ``compute(name, temporary=FALSE, indexes=list('tow'))`` — a named,
  indexed, server-side checkpoint reused by several downstream
  pipelines (reference R/initdb.R:110,151,207). Spark-first
  restatement: :func:`materialize` — parquet checkpoint, optionally
  bucketed by the "index" column so the 2-5 downstream consumers
  (SURVEY §4 "intermediate reuse") re-join WITHOUT re-shuffling.
- ``dbWriteTable(overwrite=TRUE)`` / ``dbRemoveTable`` round trips
  (reference R/initdb.R:41,69,79-82) → plain overwrite writes.
- ``mfdb_import_survey(mdb, data_source, df)`` — idempotent
  replace-by-source fact import (reference R/initdb.R:286-288 et
  al.): re-importing a data_source replaces exactly that source's
  rows and leaves every other source untouched.
  :func:`replace_by_source` = dynamic partition overwrite into a
  fact table partitioned by ``data_source`` — the replace is a
  metadata swap of one partition, never a rewrite of the table, so
  at 100 TB an import touches only the new source's bytes.
  Taxonomy foreign keys must pre-exist (unknown vessels are
  pre-registered in bulk, reference R/initdb.R:230-279) →
  :func:`require_fk` is a broadcast anti-join gate.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COL = "data_source"


def materialize(
    df: DataFrame,
    path: str,
    *,
    partition_by: Sequence[str] | None = None,
    repartition_by: Sequence[str] | None = None,
    n_files: int | None = None,
) -> DataFrame:
    """S11: durable checkpoint — write parquet, read it back.

    ``repartition_by`` is the Spark analog of the reference's
    ``indexes=list('tow')``: cluster the files by the join key so
    every downstream consumer scans co-located runs of that key (and
    AQE can pick shuffle-free plans after the exchange reuse).
    """
    w = df
    if repartition_by:
        if n_files:
            w = w.repartition(n_files, *repartition_by)
        else:
            w = w.repartition(*repartition_by)
    writer = w.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return df.sparkSession.read.parquet(path)


def materialize_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    n_buckets: int = 32,
    sort_by: Sequence[str] | None = None,
) -> DataFrame:
    """S11 with the "index" made physical: bucketed (and optionally
    sorted) saveAsTable on the join key. Every downstream consumer
    that joins or aggregates on ``bucket_by`` reads co-located,
    pre-sorted buckets — the shuffle (and with sort_by, the sort)
    disappears from THEIR plans, which is exactly what the
    reference's ``indexes=list('tow')`` bought its four consumers
    (reference R/initdb.R:151; SURVEY §4). Requires a catalog table
    (bucket metadata lives in the catalog, not the parquet files)."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)
    return df.sparkSession.table(table)


def replace_by_source(
    df: DataFrame,
    path: str,
    data_source: str,
    *,
    partition_col: str = PARTITION_COL,
    sub_partition_cols: Sequence[str] = (),
) -> None:
    """S15: idempotent fact import — replace all rows of one
    ``data_source``, leave every other source intact (reference
    mfdb_import_survey semantics, R/initdb.R:286-288).

    Dynamic partition overwrite: only the partitions present in
    ``df`` (exactly one source — we stamp the constant) are swapped.

    ``sub_partition_cols`` (e.g. ``["year"]``) adds the scale layout
    SURVEY §4 calls for: data_source/year/... directories give
    per-source replace AND dynamic partition pruning for the query
    API's year-range filters — a year-bounded sample_count scans only
    the matching year directories of each source.
    """
    out = df.withColumn(partition_col, F.lit(data_source))
    # Cluster rows to the partition layout before the write: without
    # it every task writes a file into every (source, year) directory
    # it saw — tasks × partitions small files whose footers every
    # later read pays to list. REBALANCE (vs a plain repartition) is
    # the scale-safe form: AQE splits any over-large partition back
    # into multiple tasks, so one huge source/year can't serialize
    # into a single writer.
    out = out.hint("rebalance", partition_col, *sub_partition_cols)
    out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        partition_col, *sub_partition_cols
    ).parquet(path)


def read_fact(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned fact table (partition pruning on
    ``data_source`` comes free for per-source queries)."""
    return spark.read.parquet(path)


def fk_violations(
    fact: DataFrame, dim: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Rows of ``fact`` whose ``keys`` don't exist in ``dim`` —
    broadcast left-anti join (SURVEY §3 entry 3: FK check before
    fact-table writes). NULL keys are not violations (the reference
    allows NULL vessel, R/initdb.R:288)."""
    cond = None
    for k in keys:
        c = F.col(k).isNotNull()
        cond = c if cond is None else cond & c
    return fact.filter(cond).join(
        F.broadcast(dim.select(*keys).dropDuplicates(list(keys))),
        on=list(keys),
        how="left_anti",
    )


def require_fk(
    fact: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    *,
    label: str = "dimension",
    sample: int = 5,
) -> DataFrame:
    """Fail an import whose taxonomy values aren't registered —
    mirrors mfdb's FK enforcement (SURVEY §1.3). Returns ``fact``
    unchanged when clean."""
    bad = fk_violations(fact, dim, keys)
    rows = bad.select(*keys).dropDuplicates(list(keys)).take(sample)
    if rows:
        vals = ", ".join(str(tuple(r)) for r in rows)
        raise ValueError(
            f"unregistered {label} keys {list(keys)}: {vals} "
            f"(register them in the dimension first, as the reference "
            f"pre-registers unknown vessels)"
        )
    return fact


def import_fact(
    df: DataFrame,
    path: str,
    data_source: str,
    *,
    taxonomies: dict[str, tuple[DataFrame, Sequence[str]]] | None = None,
) -> None:
    """The full mfdb_import_survey analog: validate every taxonomy
    FK, then replace-by-source. ``taxonomies`` maps a label to
    (dimension DataFrame, fact key columns)."""
    for label, (dim, keys) in (taxonomies or {}).items():
        df = require_fk(df, dim, keys, label=label)
    replace_by_source(df, path, data_source)


#: the compaction's staging directory, hidden inside the table, and the
#: journal inside it; the staging partition column is a leaf's ordinal
_STAGING = "_compacting"
_JOURNAL = "journal.json"
_LEAF = "__leaf__"


def _hidden(name: str) -> bool:
    """Spark's reader skips these: ``_temporary``, ``_SUCCESS``, ``.crc``
    files, the compaction's staging — but not ``__cid__=3``."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def visible_files(path: str) -> dict[str, list[str]]:
    """The parquet files a reader of the table sees, per leaf directory:
    every path component below the table that Spark hides is skipped."""
    leaves: dict[str, list[str]] = {}
    for root, dirs, files in os.walk(os.path.abspath(path)):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        names = sorted(f for f in files if f.endswith(".parquet") and not _hidden(f))
        if names:
            leaves[root] = [os.path.join(root, f) for f in names]
    return leaves


def table_file_stats(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """Per-leaf-directory (dir, n_files, total_bytes) of the files a
    reader sees — the metadata pass a compaction planner needs."""
    return sorted(
        (d, len(fs), sum(map(os.path.getsize, fs))) for d, fs in visible_files(path).items()
    )


def _write_json(dest: str, obj) -> None:
    """Write ``obj`` as JSON atomically: tmp file, then os.replace."""
    tmp = dest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, dest)


def _remove(path: str) -> None:
    """Delete a data file and the checksum file Hadoop's local
    filesystem writes beside it."""
    for p in (path, os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")):
        try:
            os.remove(p)
        except FileNotFoundError:
            pass


def _recover(path: str) -> None:
    """The one recovery rule, run when every compaction starts and ends:
    per leaf of the journal, if all its outputs landed, delete its
    remaining inputs, else delete the outputs that landed. Then the
    staging directory goes, journal included. Each step is idempotent,
    so a recovery that dies is redone by the next."""
    staging = os.path.join(path, _STAGING)
    journal = os.path.join(staging, _JOURNAL)
    if os.path.exists(journal):
        with open(journal) as fh:
            for inputs, outputs in json.load(fh):
                done = all(os.path.exists(os.path.join(path, f)) for f in outputs)
                for f in inputs if done else outputs:
                    _remove(os.path.join(path, f))
    shutil.rmtree(staging, ignore_errors=True)


def compaction_listing(path: str) -> dict[str, list[str]]:
    """Finish or undo an interrupted compaction (_recover), then list
    the table's visible files per leaf, for compact_listed. A caller
    may leave files out of the listing in between."""
    _recover(path)
    return visible_files(path)


def compact_listed(
    spark: SparkSession,
    path: str,
    listing: dict[str, list[str]],
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Rewrite the listed files of every small leaf (more than one file,
    averaging under ``target_bytes / 2``): read them once, each row
    tagged with its leaf's ordinal, and write them in one Spark job into
    a staging directory hidden inside the table; write a journal of each
    leaf's inputs and outputs; move each output into the leaf its inputs
    came from (by identity: ``src=007`` reads back as 7); then delete
    exactly the listed files. A file that an append commits meanwhile
    was never listed, so it survives.

    Readers are not snapshot-isolated during a compaction. If the
    process dies between the moves and the deletes, a reader may see a
    leaf's rows twice until the next compaction's recovery. Returns
    {"compacted": [leaf dirs], "files_before": n, "files_after": m}."""
    small = sorted(
        (d, fs)
        for d, fs in listing.items()
        if len(fs) > 1 and sum(map(os.path.getsize, fs)) / len(fs) < target_bytes / 2
    )
    if not small:
        return {"compacted": [], "files_before": 0, "files_after": 0}
    staging = os.path.join(path, _STAGING)
    try:
        # one read per leaf, without basePath, so no partition value is
        # inferred; one schema read serves them all
        schema = spark.read.parquet(small[0][1][0]).schema
        rows = functools.reduce(
            DataFrame.union,
            [
                spark.read.schema(schema).parquet(*fs).withColumn(_LEAF, F.lit(i))
                for i, (_, fs) in enumerate(small)
            ],
        )
        # rebalance: AQE sizes the output files and splits an oversized
        # leaf across writers
        rows.hint("rebalance", F.col(_LEAF)).write.mode("overwrite").partitionBy(
            _LEAF
        ).parquet(staging)
        plan, moves = {}, {}
        for i, (leaf, fs) in enumerate(small):
            cell = glob.escape(os.path.join(staging, f"{_LEAF}={i}"))
            staged = glob.glob(os.path.join(cell, "*.parquet"))
            if staged:  # else every input was empty: the leaf stays as it is
                outs = [os.path.join(leaf, os.path.basename(f)) for f in staged]
                moves.update(zip(staged, outs))
                # relative to the table, so a moved table still recovers
                plan[leaf] = [[os.path.relpath(f, path) for f in fl] for fl in (fs, outs)]
        _write_json(os.path.join(staging, _JOURNAL), list(plan.values()))
        for src, dst in moves.items():
            os.replace(src, dst)
        for inputs, _ in plan.values():
            for f in inputs:
                _remove(os.path.join(path, f))
    finally:
        _recover(path)
    return {
        "compacted": list(plan),
        "files_before": sum(len(inputs) for inputs, _ in plan.values()),
        "files_after": sum(len(outs) for _, outs in plan.values()),
    }


def compact_partitions(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Small-file compaction of a parquet table, partitioned or flat (a
    flat table is its one leaf): compact_listed over the files a reader
    sees, after recovering an interrupted compaction. Incremental
    ingest accumulates small files (per-import files, one file per
    stream trigger); scans pay per-file footer reads, and tiny row
    groups defeat scan batching and min/max pruning. Only offending
    leaves are rewritten, never the whole table. The table is on a
    local filesystem: outputs move into their leaves by rename."""
    return compact_listed(spark, path, compaction_listing(path), target_bytes)


def upsert_by_key(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    partition_cols: Sequence[str],
    tmp_dir: str | None = None,
) -> dict:
    """MERGE-shaped keyed upsert into a partitioned parquet table
    without a table format: rows in ``updates`` replace existing rows
    with the same key; new keys append. Partition-local by design —
    an update's rows must carry their partition columns, and ONLY
    the partitions present in ``updates`` are rewritten (dynamic
    partition overwrite; the rest of the table is untouched bytes).

    At 100 TB this is the bounded-blast-radius upsert: cost scales
    with the touched partitions' size, not the table's. The merge
    itself is one left-anti join (old rows whose key is NOT updated)
    + union, shuffling only the touched partitions. Updates that
    move a key ACROSS partitions are rejected loudly (both the old
    and new partition would need rewriting; callers must delete +
    re-insert explicitly), detected as the same key appearing in a
    touched partition's old rows AND in a different partition's
    updates — silent handling would duplicate the key.

    Staged through ``tmp_dir`` (Spark refuses read+overwrite of the
    same path in one job). Returns {"partitions": [...],
    "updated": n, "inserted": n}.
    """
    import shutil
    import tempfile

    keys = list(key_cols)
    parts = list(partition_cols)
    touched = [tuple(r) for r in updates.select(*parts).distinct().collect()]
    if not touched:
        return {"partitions": [], "updated": 0, "inserted": 0}

    current = spark.read.parquet(path)
    # partition pruning: one disjunct per touched partition tuple
    cond = None
    for t in touched:
        arm = None
        for c, v in zip(parts, t):
            e = F.col(c) == F.lit(v)
            arm = e if arm is None else (arm & e)
        cond = arm if cond is None else (cond | arm)
    old = current.filter(cond)

    # cross-partition key moves: the key exists ANYWHERE in the table
    # under a different partition value. This must look beyond the
    # touched partitions (the old copy lives elsewhere by
    # definition), so it scans the key+partition COLUMNS of the whole
    # table — column-pruned, metadata-light relative to the data, and
    # the price of the no-silent-duplicates guarantee.
    moved = (
        current.select(*keys, *parts)
        .join(
            updates.select(*keys, *parts).withColumnsRenamed(
                {c: f"__new_{c}__" for c in parts}
            ),
            on=keys,
        )
        .filter(
            ~F.concat_ws("\x00", *[F.col(c).cast("string") for c in parts]).eqNullSafe(
                F.concat_ws("\x00", *[F.col(f"__new_{c}__").cast("string") for c in parts])
            )
        )
    )
    n_moved = moved.limit(1).count()
    if n_moved:
        raise ValueError(
            "upsert_by_key: update moves key(s) across partitions — delete + "
            "re-insert explicitly (silent handling would leave the key "
            "duplicated in the old partition)"
        )

    updated = old.join(updates.select(*keys), on=keys, how="left_semi")
    n_updated = updated.count()
    n_inserted = updates.count() - n_updated

    survivors = old.join(updates.select(*keys), on=keys, how="left_anti")
    merged = survivors.unionByName(updates.select(*current.columns))

    staged = tmp_dir or tempfile.mkdtemp(prefix="upsert_")
    try:
        merged.hint("rebalance", *[F.col(c) for c in parts]).write.mode(
            "overwrite"
        ).partitionBy(*parts).parquet(staged)
        spark.read.parquet(staged).hint(
            "rebalance", *[F.col(c) for c in parts]
        ).write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
            *parts
        ).parquet(path)
    finally:
        if tmp_dir is None:
            shutil.rmtree(staged, ignore_errors=True)
    return {"partitions": touched, "updated": n_updated, "inserted": int(n_inserted)}
