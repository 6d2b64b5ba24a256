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


def table_file_stats(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """Per-leaf-directory (dir, n_files, total_bytes) for a parquet
    table — the metadata pass a compaction planner needs. Driver-side
    Hadoop FS listing: this is table METADATA (one row per file, the
    same listing every scan's planning already does), not data."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stats: dict[str, list[int]] = {}
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if not name.endswith(".parquet"):
            continue
        parent = f.getPath().getParent().toUri().getPath()
        agg = stats.setdefault(parent, [0, 0])
        agg[0] += 1
        agg[1] += int(f.getLen())
    return sorted((d, n, b) for d, (n, b) in stats.items())


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str],
    target_bytes: int = 128 * 1024 * 1024,
    tmp_dir: str | None = None,
) -> dict:
    """Small-file compaction for a partitioned parquet table: find
    leaf partitions whose files average under ``target_bytes / 2``
    with more than one file, and rewrite ONLY those partitions.

    The accumulation shape this fixes is intrinsic to incremental
    ingest (replace_by_source appends per-import files; streaming
    sinks add one file per trigger): scans pay per-file footer reads
    and tiny row groups defeat both vectorized scan batching and
    min/max pruning. At 100 TB compaction must never rewrite the
    whole table — the planner touches only offending partitions, and
    the rewrite is a dynamic partition overwrite (a metadata swap of
    exactly those directories).

    Spark refuses to overwrite a path that feeds the same job (the
    read would race the commit), so the bad partitions are staged
    through ``tmp_dir`` first: read (basePath-aware, keeps partition
    columns) → rebalance-by-partition write to tmp → dynamic
    overwrite back. Two passes over ONLY the bad partitions' bytes.

    Returns {"compacted": [partition dirs], "files_before": n,
    "files_after": m}.
    """
    import shutil
    import tempfile

    bad = [
        (d, n, b)
        for d, n, b in table_file_stats(spark, path)
        if n > 1 and b / n < target_bytes / 2
    ]
    if not bad:
        return {"compacted": [], "files_before": 0, "files_after": 0}
    files_before = sum(n for _, n, _ in bad)
    staged = tmp_dir or tempfile.mkdtemp(prefix="compact_")
    try:
        src = (
            spark.read.option("basePath", path).parquet(*[d for d, _, _ in bad])
        )
        # rebalance: AQE sizes output splits to the advisory partition
        # size and splits oversized groups across writers, so one hot
        # partition can't serialize into a single task
        src.hint("rebalance", *[F.col(c) for c in partition_cols]).write.mode(
            "overwrite"
        ).partitionBy(*partition_cols).parquet(staged)
        spark.read.parquet(staged).hint(
            "rebalance", *[F.col(c) for c in partition_cols]
        ).write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
            *partition_cols
        ).parquet(path)
    finally:
        if tmp_dir is None:
            shutil.rmtree(staged, ignore_errors=True)
    after = {
        d: n for d, n, _ in table_file_stats(spark, path)
    }
    return {
        "compacted": [d for d, _, _ in bad],
        "files_before": files_before,
        "files_after": sum(after.get(d, 0) for d, _, _ in bad),
    }


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
