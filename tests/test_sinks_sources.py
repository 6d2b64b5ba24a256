"""Behavioral tests for sinks/sources that the oracle-parity suite
can't express: FK-gate failures, replace-by-source isolation, and
file-reader edge cases."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mfdb_hafro_etl_spark.sinks import (
    fk_violations,
    materialize,
    read_fact,
    replace_by_source,
    require_fk,
)
from mfdb_hafro_etl_spark.sources import read_legacy_family, union_families


def test_require_fk_raises_on_unregistered_keys(spark):
    fact = spark.createDataFrame(
        [(1, "V1"), (2, "V2"), (3, None), (4, "V9")], "id INT, vessel STRING"
    )
    dim = spark.createDataFrame([("V1",), ("V2",)], "vessel STRING")
    # NULL vessel is allowed (reference imports NULL vessel rows)
    bad = fk_violations(fact, dim, ["vessel"]).collect()
    assert [r.vessel for r in bad] == ["V9"]
    with pytest.raises(ValueError, match="vessel"):
        require_fk(fact, dim, ["vessel"], label="vessel")
    clean = fact.filter(F.col("id") != 4)
    assert require_fk(clean, dim, ["vessel"]).count() == 3


def test_replace_by_source_isolates_partitions(spark, tmp_path):
    path = str(tmp_path / "fact")
    a1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k INT, v DOUBLE")
    b = spark.createDataFrame([(3, 30.0)], "k INT, v DOUBLE")
    replace_by_source(a1, path, "a")
    replace_by_source(b, path, "b")
    # re-import source a with different rows: must fully replace a,
    # leave b untouched
    a2 = spark.createDataFrame([(9, 90.0)], "k INT, v DOUBLE")
    replace_by_source(a2, path, "a")
    got = {
        (r.data_source, r.k, r.v) for r in read_fact(spark, path).collect()
    }
    assert got == {("a", 9, 90.0), ("b", 3, 30.0)}


def test_replace_by_source_leaves_session_overwrite_mode(spark, tmp_path):
    """replace_by_source overwrites dynamically by a writer option, not
    by the session conf: on a session set to static it still replaces
    only its own source's partitions, and the session still reads
    static afterwards."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        path = str(tmp_path / "fact")
        replace_by_source(spark.createDataFrame([(1, 10.0)], "k INT, v DOUBLE"), path, "a")
        replace_by_source(spark.createDataFrame([(3, 30.0)], "k INT, v DOUBLE"), path, "b")
        replace_by_source(spark.createDataFrame([(9, 90.0)], "k INT, v DOUBLE"), path, "a")
        got = {(r.data_source, r.k, r.v) for r in read_fact(spark, path).collect()}
        assert got == {("a", 9, 90.0), ("b", 3, 30.0)}
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prev)


def test_import_fact_gates_then_replaces_its_source(spark, tmp_path):
    """import_fact refuses an import with an unregistered taxonomy key
    before it writes anything, and a clean import replaces exactly its
    own data_source (NULL keys pass the gate)."""
    from mfdb_hafro_etl_spark.sinks import import_fact

    path = str(tmp_path / "fact")
    tax = {"vessel": (spark.createDataFrame([("V1",), ("V2",)], "vessel STRING"), ["vessel"])}

    def rows(*r):
        return spark.createDataFrame(list(r), "id INT, vessel STRING")

    import_fact(rows((1, "V1")), path, "s1", taxonomies=tax)
    import_fact(rows((2, "V2")), path, "s2", taxonomies=tax)
    with pytest.raises(ValueError, match="vessel"):
        import_fact(rows((3, "V9")), path, "s1", taxonomies=tax)
    assert sorted(r.id for r in read_fact(spark, path).collect()) == [1, 2]
    import_fact(rows((4, "V2"), (5, None)), path, "s1", taxonomies=tax)
    got = sorted((r.id, r.vessel, r.data_source) for r in read_fact(spark, path).collect())
    assert got == [(2, "V2", "s2"), (4, "V2", "s1"), (5, None, "s1")]


def test_materialize_roundtrip_with_clustering(spark, tmp_path):
    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("tow"), F.col("id").alias("x")
    )
    out = materialize(df, str(tmp_path / "chk"), repartition_by=["tow"], n_files=4)
    assert out.count() == 1000
    assert {f for f in os.listdir(tmp_path / "chk") if f.endswith(".parquet")}


def test_legacy_family_skip_rows_and_types(spark, tmp_path):
    p = tmp_path / "fam"
    p.mkdir()
    (p / "afli.1").write_text("junk line\nmore junk\n5\tfoo\n6\tbar\n")
    (p / "afli.2").write_text("junk line\nmore junk\n7\tbaz\n")
    df = read_legacy_family(
        spark, str(p / "afli.*"), ["n", "s"], ["int", "string"], sep="\t", skip_rows=2
    )
    got = {(r.n, r.s) for r in df.collect()}
    assert got == {(5, "foo"), (6, "bar"), (7, "baz")}
    assert dict(df.dtypes) == {"n": "int", "s": "string"}


def test_union_families_fills_missing_columns(spark):
    a = spark.createDataFrame([(1, "x")], "k INT, extra STRING")
    b = spark.createDataFrame([(2,)], "k INT")
    got = union_families([a, b]).orderBy("k").collect()
    assert [(r.k, r.extra) for r in got] == [(1, "x"), (2, None)]


def test_read_remote_csv_fetch_then_distribute(spark, tmp_path):
    """S4: the remote reader fetches once into the content-addressed
    cache (atomic rename) and parses with the explicit-schema
    distributed csv scan. No network in the sandbox → the identical
    code path runs against a file:// URL; a second call must hit the
    cache (the source file is deleted between calls to prove it)."""
    import os

    from mfdb_hafro_etl_spark.sources import read_remote_csv

    src = tmp_path / "ices.csv"
    src.write_text("species,year,landings\nLIN,1999,12.5\nUSK,2000,3.25\n")
    url = f"file://{src}"
    cache = str(tmp_path / "cache")
    schema = "species STRING, year INT, landings DOUBLE"
    got = read_remote_csv(spark, url, schema, cache_dir=cache).orderBy("year").collect()
    assert [(r.species, r.year, r.landings) for r in got] == [
        ("LIN", 1999, 12.5),
        ("USK", 2000, 3.25),
    ]
    os.remove(src)
    again = read_remote_csv(spark, url, schema, cache_dir=cache).count()
    assert again == 2, "second read must come from the fetch cache"


def test_packaged_taxonomy_dims(spark):
    """The packaged public taxonomy tables (reference inst/: gear map,
    vessel types, gear names, prey names) load with their declared
    schemas and plausible shapes."""
    from mfdb_hafro_etl_spark.catalog import PACKAGED_DDL, load_packaged_dim

    dims = {name: load_packaged_dim(spark, name) for name in PACKAGED_DDL}
    counts = {name: df.count() for name, df in dims.items()}
    assert counts == {
        "gear_mapping": 57,
        "vessel_type": 8,
        "gear_names": 101,
        "prey_names": 128,
    }
    gm = dims["gear_mapping"]
    assert dict(gm.dtypes) == {"veidarfaeri": "int", "gear": "int"}
    # every gear_mapping code resolves to a named gear
    gn = dims["gear_names"].select("veidarfaeri").distinct()
    unresolved = gm.join(gn, "veidarfaeri", "left_anti").count()
    assert unresolved == 0
    # vessel_type codes are unique (dimension key)
    vt = dims["vessel_type"]
    assert vt.select("vessel_type").distinct().count() == 8
    assert dims["prey_names"].filter(F.col("name").isNull()).count() == 0


def test_local_df_parity(spark):
    """local_df (arrow-backed LocalRelation) must agree with plain
    createDataFrame on names, types, and values — including None in
    every type, dates, timestamps, and array columns — while planning
    as a JVM local relation (no Python-backed RDD scan)."""
    import datetime

    from mfdb_hafro_etl_spark.localrel import local_df

    schema = (
        "i INT, l BIGINT, d DOUBLE, s STRING, b BOOLEAN, "
        "dt DATE, ts TIMESTAMP, arr ARRAY<DOUBLE>, bin BINARY"
    )
    rows = [
        (1, 2, 1.5, "x", True, datetime.date(2020, 1, 2),
         datetime.datetime(2020, 1, 2, 3, 4, 5), [1.0, 2.0], b"\x00\x01"),
        (None, None, None, None, None, None, None, None, None),
        (-7, 10**12, float("inf"), "", False, datetime.date(1970, 1, 1),
         datetime.datetime(1999, 12, 31, 23, 59, 59), [], b""),
    ]
    fast = local_df(spark, rows, schema)
    slow = spark.createDataFrame(rows, schema)
    assert [(f.name, f.dataType) for f in fast.schema.fields] == [
        (f.name, f.dataType) for f in slow.schema.fields
    ]
    assert sorted(map(str, fast.collect())) == sorted(map(str, slow.collect()))
    # the whole point: a JVM-side local relation, not a pickled RDD
    # evaluated through Python workers on every job
    plan = fast._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan, plan


def test_local_df_empty_and_fallback(spark):
    from mfdb_hafro_etl_spark.localrel import local_df

    empty = local_df(spark, [], "a INT, b STRING")
    assert empty.count() == 0 and [f.name for f in empty.schema.fields] == ["a", "b"]
    # struct rows encoded as tuples must load; list-encoded ones are
    # refused by pyarrow and must fall back to createDataFrame, not
    # error
    df = local_df(spark, [((1, "x"),)], "s STRUCT<a INT, b STRING>")
    assert df.collect()[0]["s"]["a"] == 1
    df = local_df(spark, [([1, "x"],)], "s STRUCT<a INT, b STRING>")
    assert df.collect()[0]["s"]["a"] == 1


def test_local_df_arrow_path_error_propagates(spark, monkeypatch):
    """An error from creating the arrow-backed frame is not a row shape
    pyarrow refuses: it must propagate instead of silently re-running
    the rows through the Python path."""
    import pyarrow as pa

    from mfdb_hafro_etl_spark.localrel import local_df

    calls = []
    real = spark.createDataFrame

    def create(data, *args, **kwargs):
        calls.append(type(data).__name__)
        if isinstance(data, pa.Table):
            raise RuntimeError("injected arrow-path failure")
        return real(data, *args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", create)
    with pytest.raises(RuntimeError, match="injected"):
        local_df(spark, [(1, "x")], "a INT, b STRING")
    assert calls == ["Table"]


# ------------------------------------------------------- compaction
def test_compact_partitions_only_touches_small_partitions(spark, tmp_path):
    from mfdb_hafro_etl_spark.sinks.tables import (
        compact_partitions,
        table_file_stats,
    )

    path = str(tmp_path / "fact")
    # partition a: fragmented into 8 tiny files; partition b: 1 file
    a = spark.range(0, 400).withColumn("src", F.lit("a")).repartition(8)
    a.write.partitionBy("src").parquet(path)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    b = spark.range(400, 500).withColumn("src", F.lit("b")).coalesce(1)
    b.write.mode("overwrite").partitionBy("src").parquet(path)

    before = {d: n for d, n, _ in table_file_stats(spark, path)}
    assert [n for d, n in before.items() if d.endswith("src=a")] == [8]
    b_files_before = {
        str(f) for f in (tmp_path / "fact" / "src=b").iterdir()
    }

    content_before = sorted(
        (r["id"], r["src"]) for r in spark.read.parquet(path).collect()
    )
    res = compact_partitions(spark, path)
    assert [d for d in res["compacted"]] and res["compacted"][0].endswith("src=a")
    assert res["files_after"] < res["files_before"] == 8

    after = {d: n for d, n, _ in table_file_stats(spark, path)}
    assert [n for d, n in after.items() if d.endswith("src=a")] == [1]
    # untouched partition: same physical files
    assert {
        str(f) for f in (tmp_path / "fact" / "src=b").iterdir()
    } == b_files_before
    # content identical
    assert content_before == sorted(
        (r["id"], r["src"]) for r in spark.read.parquet(path).collect()
    )


def _leaf_files(leaf):
    return sorted(f for f in os.listdir(leaf) if f.endswith(".parquet") and f[0] not in "._")


def test_compact_partitions_returns_rows_to_their_own_leaf(spark, tmp_path):
    """Compacted output goes back to the directory its inputs came
    from, not to one derived from the inferred partition value: a
    ``src=007`` leaf reads back as 7, and a rewrite routed by value
    would add a ``src=7`` leaf next to the old files."""
    from mfdb_hafro_etl_spark.sinks.tables import compact_partitions

    path = str(tmp_path / "fact")
    spark.range(0, 400).withColumn("src", F.lit("007")).repartition(8).write.partitionBy(
        "src"
    ).parquet(path)
    leaf = tmp_path / "fact" / "src=007"
    n_before = len(_leaf_files(leaf))
    res = compact_partitions(spark, path)
    assert res["compacted"] == [str(leaf)]
    assert [d for d in os.listdir(path) if d[0] not in "._"] == ["src=007"]
    assert len(_leaf_files(leaf)) < n_before
    assert spark.read.parquet(path).count() == 400


def test_compact_partitions_lists_only_what_the_reader_sees(spark, tmp_path):
    """Parquet files under a hidden ``_temporary/`` (an in-flight or
    aborted Spark append; the reader ignores them) are neither listed
    by table_file_stats nor touched by compaction: the visible leaf is
    compacted with its rows unchanged, and the hidden files stay byte
    for byte."""
    import hashlib
    import shutil

    from mfdb_hafro_etl_spark.sinks.tables import compact_partitions, table_file_stats

    path = str(tmp_path / "fact")
    spark.range(0, 400).withColumn("src", F.lit("a")).repartition(8).write.partitionBy(
        "src"
    ).parquet(path)
    side = str(tmp_path / "side")
    spark.range(1000, 1100).repartition(2).write.parquet(side)
    hidden = tmp_path / "fact" / "_temporary" / "0" / "src=a"
    hidden.mkdir(parents=True)
    for f in _leaf_files(side):
        shutil.copy(os.path.join(side, f), hidden / f)

    def digests():
        return {f: hashlib.md5((hidden / f).read_bytes()).hexdigest() for f in os.listdir(hidden)}

    hidden_before = digests()
    assert len(hidden_before) == 2
    stats = table_file_stats(spark, path)
    assert [d for d, _, _ in stats] == [str(tmp_path / "fact" / "src=a")]
    rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    res = compact_partitions(spark, path)
    assert res["compacted"] == [str(tmp_path / "fact" / "src=a")]
    assert res["files_after"] < res["files_before"] == 8
    assert digests() == hidden_before
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == rows


def test_upsert_by_key_partition_local(spark, tmp_path):
    from mfdb_hafro_etl_spark.sinks.tables import upsert_by_key

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "k BIGINT, src STRING, v DOUBLE",
    )
    base.write.partitionBy("src").parquet(path)
    c_files = {str(f) for f in (tmp_path / "t" / "src=c").iterdir()}

    ups = spark.createDataFrame(
        [(2, "a", 21.0), (5, "b", 50.0)], "k BIGINT, src STRING, v DOUBLE"
    )
    res = upsert_by_key(spark, path, ups, ["k"], ["src"])
    assert res["updated"] == 1 and res["inserted"] == 1
    assert sorted(res["partitions"]) == [("a",), ("b",)]

    got = sorted(
        (r["k"], r["src"], r["v"]) for r in spark.read.parquet(path).collect()
    )
    assert got == [
        (1, "a", 10.0),
        (2, "a", 21.0),
        (3, "b", 30.0),
        (4, "c", 40.0),
        (5, "b", 50.0),
    ]
    # untouched partition keeps its physical files
    assert {str(f) for f in (tmp_path / "t" / "src=c").iterdir()} == c_files


def test_upsert_by_key_rejects_cross_partition_move(spark, tmp_path):
    from mfdb_hafro_etl_spark.sinks.tables import upsert_by_key

    path = str(tmp_path / "t2")
    spark.createDataFrame(
        [(1, "a", 10.0)], "k BIGINT, src STRING, v DOUBLE"
    ).write.partitionBy("src").parquet(path)
    moved = spark.createDataFrame(
        [(1, "b", 11.0)], "k BIGINT, src STRING, v DOUBLE"
    )
    with pytest.raises(ValueError, match="across partitions"):
        upsert_by_key(spark, path, moved, ["k"], ["src"])


# ------------------------------------------------------ JDBC round-trip (S1)
def test_jdbc_round_trip_partitioned_and_predicates(spark, tmp_path):
    """Executes the S1 JDBC contract end-to-end against embedded
    Derby (shipped in Spark's own jars — no network): write a table
    over JDBC, read it back through read_jdbc on BOTH parallel-read
    paths, and check the parallelism contract actually holds (4
    stride partitions / one partition per predicate), not just that
    rows survive."""
    import pyspark.sql.functions as F

    from mfdb_hafro_etl_spark.sources.files import read_jdbc

    url = f"jdbc:derby:{tmp_path}/jdbcdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = spark.range(0, 100).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 7).cast("int").alias("grp"),
        F.concat(F.lit("v"), F.col("id")).alias("payload"),
    )
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "T")
        .option("driver", props["driver"])
        .save()
    )

    # stride-partitioned read: 4 concurrent cursors over k ∈ [0,100)
    out = read_jdbc(
        spark, url, "T",
        partition_column="k", lower_bound=0, upper_bound=100,
        num_partitions=4, properties=props,
    )
    assert out.rdd.getNumPartitions() == 4
    got = sorted((r.k, r.grp, r.payload) for r in out.collect())
    want = sorted((r.k, r.grp, r.payload) for r in src.collect())
    assert got == want
    # filter composes into the generated SQL (dbplyr-style laziness)
    assert out.filter(F.col("k") < 10).count() == 10

    # per-predicate read: one partition per predicate, union == table.
    # Predicates are raw SQL in the SOURCE dialect: Spark's JDBC writer
    # quotes identifiers, so Derby made the column case-sensitive "grp"
    # and an unquoted grp would resolve to (missing) GRP
    out2 = read_jdbc(
        spark, url, "T",
        predicates=['"grp" < 3', '"grp" >= 3'], properties=props,
    )
    assert out2.rdd.getNumPartitions() == 2
    assert sorted((r.k, r.grp, r.payload) for r in out2.collect()) == want
