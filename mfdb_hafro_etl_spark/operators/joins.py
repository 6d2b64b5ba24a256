"""Join operators (SURVEY §2.3 J1-J10).

The reference's single most load-bearing operator family. Spark
notes baked in here:

- dimension sides are broadcast explicitly (J3 note: species_key 30
  rows ... all broadcast-sized) — at 100 TB the fact side never
  shuffles for a dim lookup;
- the temporal (as-of) join J7 puts the range predicate INTO the join
  condition so Catalyst plans one broadcast-hash join + filter rather
  than an equi-join followed by a separate filter stage;
- keys are always explicit (the reference's natural joins J1 are a
  hazard — SURVEY §4 "known reference hazards").
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mfdb_hafro_etl_spark.operators.skew import hot_key_anti_join
from mfdb_hafro_etl_spark.session import pin_to_result


def dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | Column,
    how: str = "left",
) -> DataFrame:
    """Fact ⋈ broadcast(dimension). The J1/J2/J3 workhorse: the dim
    side is always broadcast (reference dims are ≤ ~1000 rows —
    SURVEY §2.3 broadcast note)."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def temporal_join(
    left: DataFrame,
    registry: DataFrame,
    key: str,
    registry_key: str,
    event_date: str,
    valid_from: str,
    valid_to: str,
    *,
    closed: str = "right",
    how: str = "left",
    broadcast_registry: bool = True,
) -> DataFrame:
    """SCD-2 valid-time (as-of) resolution — J7.

    The reference does left_join on skip_nr then filters
    ``dags > i_gildi & dags <= ur_gildi`` (reference
    R/initdb.R:106-108) or ``l_dags < ur_gildi & l_dags > i_gildi``
    (R/initdb.R:348-349) — note the two call sites use different
    interval bounds; ``closed`` preserves each exactly
    (SURVEY §7 hard part (c)).

    closed='right'  → (from, to]   (initdb.R:108 semantics)
    closed='none'   → (from, to)   (initdb.R:349 semantics)

    Implemented as ONE join with the range predicate in the join
    condition: Catalyst broadcasts the registry and evaluates the
    band inside the hash join — no second shuffle, no post-filter
    stage. With a left join, events with no valid interval survive
    with NULL registry columns (the reference's NULL-tolerant arms).
    """
    ev = F.col(f"l.{event_date}")
    lo = F.col(f"r.{valid_from}")
    hi = F.col(f"r.{valid_to}")
    if closed == "right":
        band = (ev > lo) & (ev <= hi)
    elif closed == "none":
        band = (ev > lo) & (ev < hi)
    elif closed == "left":
        band = (ev >= lo) & (ev < hi)
    elif closed == "both":
        band = (ev >= lo) & (ev <= hi)
    else:
        raise ValueError(f"closed={closed!r}")
    cond = (F.col(f"l.{key}") == F.col(f"r.{registry_key}")) & band
    r = registry.alias("r")
    if broadcast_registry:
        # dimension-sized registry (the reference's vessel history):
        # broadcast-hash join, band evaluated inside the join
        r = F.broadcast(r)
    # else: equi-key sort-merge join with the band as a join filter —
    # the right plan when the registry is fact-sized
    return left.alias("l").join(r, on=cond, how=how)


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """J6: rows of left with no key match in right (the incremental
    'drop already-imported stations' idiom, reference
    R/initdb_add_shrimp.R:169)."""
    return left.join(right.select(*on).dropDuplicates(list(on)), on=list(on), how="left_anti")


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """J10: whitelist filter — cleaner than the reference's
    inner-join-on-key-only-table idiom (reference R/initdb.R:204,296)."""
    return left.join(F.broadcast(right.select(*on).dropDuplicates(list(on))), on=list(on), how="left_semi")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: Sequence[str],
    value_cols: Sequence[str],
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join: for every left row, attach each
    ``value_cols`` from the LATEST right row with
    ``right.on <= left.on`` within the same ``by`` group (pandas
    merge_asof / kdb aj semantics — the generic form of the SCD-2
    lookup J7, for when the right side is NOT broadcastable).

    Implementation is the scale-true union+window plan, NOT a join:
    tag both inputs, union them, and carry the latest right values
    forward with last(ignorenulls) over a (by)-partitioned window
    ordered by (on, tag) — right rows sort before left rows at equal
    timestamps, so the match is inclusive. ONE shuffle on the group
    key, zero join fan-out, and no per-row range probe: a naive
    non-equi join here is O(|L|·|R|) per group and a broadcast
    requires the whole right side in memory; this is O((|L|+|R|)
    log) with both sides streamed through the same sort.

    Right rows that share an exact (by, on) timestamp are reduced to
    their last value in (arbitrary but columnwise-consistent) order —
    pre-aggregate the right side if ties must be resolved by a rule.

    All ``value_cols`` are carried in ONE struct and filled with a
    single last(ignorenulls) pass, so the matched right row supplies
    every value column together and a legitimately-NULL field in the
    latest right row SURVIVES as NULL (per-column fills would
    back-fill it from an older snapshot, and different columns could
    come from different right rows — both diverge from pandas
    merge_asof / DuckDB ASOF semantics).
    """
    by = list(by)
    tag = "__asof_src__"
    payload = "__asof_payload__"
    l_payload = [c for c in left.columns if c not in by and c != on]
    r_struct = F.struct(*[F.col(c).alias(c) for c in value_cols])
    null_struct = F.lit(None).cast(
        "struct<" + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in value_cols) + ">"
    )
    l = left.select(
        *by,
        F.col(on).alias("__asof_ts__"),
        F.lit(1).alias(tag),
        *[F.col(c) for c in l_payload],
        null_struct.alias(payload),
    )
    r = right.select(
        *by,
        F.col(on).alias("__asof_ts__"),
        F.lit(0).alias(tag),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in l_payload],
        r_struct.alias(payload),
    )
    from pyspark.sql import Window

    u = l.unionByName(r)
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col("__asof_ts__"), F.col(tag))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn(payload, F.last(payload, ignorenulls=True).over(w))
    return (
        filled.filter(F.col(tag) == 1)
        .drop(tag)
        .withColumnRenamed("__asof_ts__", on)
        .select(
            *by,
            on,
            *l_payload,
            *[F.col(f"{payload}.{c}").alias(f"{c}{suffix}") for c in value_cols],
        )
    )


def _derive_range_join_salt(
    intervals: DataFrame,
    lo_col: str,
    hi_col: str,
    bin_width: float,
    parallelism: int,
    max_salt: int,
) -> int:
    """Auto-salt for range_join_binned: probe DISTINCT OCCUPIED bins,
    not the min-max span. A sparse/clustered interval domain (two
    bands a million apart) SPANS millions of bins while only a
    handful carry rows — a span-based estimate overstates key
    cardinality and silently disables the salt exactly when skew
    needs it. The estimate is max(distinct lo-bins, distinct hi-bins,
    mean bins-per-interval): the distinct terms see clustering, the
    mean-span term covers WIDE intervals (1000 intervals all starting
    near 0 but each spanning ~8000 bins occupy ~8000 bins — lo/hi
    distinct counts alone would read 1 and over-salt by max_salt,
    replicating the already-8000-way-exploded interval side for
    nothing). One tiny partial-agg job; heuristic only — the salt
    value never affects output. Returns
    ceil(parallelism / occupied_bins) clamped to [1, max_salt]; 1 on
    an empty/all-null interval side."""
    lo_bin = F.floor(F.col(lo_col) / bin_width)
    hi_bin = F.floor(F.col(hi_col) / bin_width)
    probe = intervals.agg(
        F.approx_count_distinct(lo_bin).alias("nlo"),
        F.approx_count_distinct(hi_bin).alias("nhi"),
        F.avg(
            F.when(F.col(lo_col) <= F.col(hi_col), hi_bin - lo_bin + 1)
        ).alias("avg_span"),
    ).first()
    if probe is None:
        return 1
    occupied_bins = max(
        int(probe["nlo"] or 0),
        int(probe["nhi"] or 0),
        int(probe["avg_span"] or 0),
    )
    if occupied_bins <= 0:
        return 1
    return max(1, min(max_salt, -(-parallelism // occupied_bins)))


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    lo_col: str,
    hi_col: str,
    by: Sequence[str] = (),
    bin_width: float,
    how: str = "inner",
    salt: int | None = None,
    max_salt: int = 64,
) -> DataFrame:
    """Point-in-interval range join for a NON-broadcastable interval
    table, via bin bucketing.

    Spark plans a bare ``l.p BETWEEN r.lo AND r.hi`` (with no equi
    key) as a nested-loop join — quadratic and usually a broadcast.
    Binning restores an equi key: each point hashes to bin
    floor(p/w); each interval explodes to the bins it overlaps.
    The join is then a plain shuffled hash join on (by..., bin) with
    the exact range predicate re-checked inside the join condition.
    A point lies in exactly one bin, so no dedup pass is needed.

    Cost model: interval fan-out = (hi-lo)/bin_width + 1 rows per
    interval; pick bin_width near the typical interval length so
    fan-out stays O(1) while each bin's candidate set stays small.
    The reference's SCD-2 probes (J7) are the broadcast special case;
    this operator is the fact-sized-registry path.

    Bin-key-cardinality guard (``salt``): when the value domain spans
    only a handful of bins (e.g. quantity ∈ [1,50] with bin_width 8 →
    ~7 distinct bins), the shuffled hash join degenerates to ≤7 tasks
    carrying the whole join REGARDLESS of cluster size. Salting
    restores parallelism at identical output: points get a
    deterministic salt = pmod(hash(all point columns), s) appended to
    the join key, intervals are replicated s ways (one row per salt),
    so each bin's work fans out over s tasks. ``salt=None`` (default)
    auto-derives s from one tiny approx-distinct aggregate of the
    OCCUPIED lo-bins over the interval side (distinct, not min-max
    span — a clustered domain spans many bins but occupies few):
    s = ceil(defaultParallelism / occupied_bins), clamped to
    [1, max_salt] — s collapses to 1 (zero overhead, no interval
    replication) whenever the domain already spans at least one bin
    per core. Pass ``salt=1`` to skip the probe job entirely, or an
    explicit s to pin it. Salting hashes the point row's full column
    tuple, so it spreads load whenever points carry distinguishing
    columns (ids, payloads — the normal fact-row case); a points
    projection with few distinct tuples caps the useful spread at its
    tuple cardinality.

    Only ``how`` in {'inner','left'} is supported: the interval side
    is exploded one row per overlapped bin, so a right/full outer
    join would emit an unmatched interval once PER BIN (duplicates).
    Malformed intervals (lo > hi) produce no bins — without the
    guard, Spark's sequence() would happily generate the DESCENDING
    bin range and match the interval everywhere.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"range_join_binned supports how in ('inner','left'), got {how!r}: "
            "the exploded interval side would duplicate unmatched intervals "
            "once per bin under right/full outer"
        )
    by = list(by)
    if salt is None:
        salt = _derive_range_join_salt(
            intervals,
            lo_col,
            hi_col,
            bin_width,
            points.sparkSession.sparkContext.defaultParallelism,
            max_salt,
        )
    p_bin = F.floor(F.col(point_col) / bin_width).cast("long")
    i_bins = F.when(
        F.col(lo_col) <= F.col(hi_col),
        F.sequence(
            F.floor(F.col(lo_col) / bin_width).cast("long"),
            F.floor(F.col(hi_col) / bin_width).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    p = points.withColumn("__bin__", p_bin)
    i = intervals.withColumn("__bin__", F.explode(i_bins))
    if salt > 1:
        p = p.withColumn(
            "__salt__",
            F.pmod(F.hash(*[F.col(c) for c in points.columns]), F.lit(salt)),
        )
        i = i.withColumn(
            "__salt__", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
    p = p.alias("p")
    i = i.alias("i")
    cond = F.col("p.__bin__") == F.col("i.__bin__")
    if salt > 1:
        cond = cond & (F.col("p.__salt__") == F.col("i.__salt__"))
    for c in by:
        cond = cond & (F.col(f"p.{c}") == F.col(f"i.{c}"))
    cond = cond & F.col(f"p.{point_col}").between(F.col(f"i.{lo_col}"), F.col(f"i.{hi_col}"))
    out = p.join(i, on=cond, how=how)
    sel = [F.col(f"p.{c}") for c in points.columns]
    sel += [F.col(f"i.{c}") for c in intervals.columns if c not in by and c not in points.columns]
    return out.select(*sel)


def fuzzy_trigram_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_col: str,
    right_id: str,
    right_col: str,
    threshold: float = 0.35,
    max_df: int = 100,
) -> DataFrame:
    """Approximate string-match join (entity resolution / record
    linkage — the reference's vessel-name reconciliation problem
    generalized): pairs whose lowercase character-trigram Jaccard
    meets ``threshold``. Returns (left_id, right_id, sim), sim
    rounded to 6.

    Scale shape = the shingle-join discipline on character trigrams:
    candidates form on a trigram equi-join (blocking), never a
    cartesian; ``max_df`` drops trigrams shared by more than max_df
    rows per side ("000", "ltd", " co" boilerplate) from PAIR
    GENERATION — the k² fan-out gate — while Jaccard denominators
    still count full trigram sets, so gated pairs' similarity is an
    underestimate (standard stop-gram tradeoff). The gate is a
    runtime-sized anti-join (skew.hot_key_anti_join) against the
    over-gate gram set from a partial-aggregated groupBy: a small
    set (the common case) becomes a broadcast local relation, making
    the gate map-side so a boilerplate gram's rows are dropped
    BEFORE any shuffle and the candidate join's bucket width is
    bounded at max_df per side — no count-window funneling the hot
    gram into one partition just to measure it, and no forced
    build-side OOM when the gram set is itself huge (over the cap it
    degrades to a shuffled anti-join over the cached key set).
    Trigrams come from one regexp lookahead (no higher-order lambda;
    strings shorter than 3 chars produce no trigrams and never
    match)."""

    def tg(df: DataFrame, id_col: str, col: str, side: str) -> DataFrame:
        grams = F.array_distinct(
            F.regexp_extract_all(F.lower(F.col(col)), F.lit("(?=(.{3}))"), F.lit(1))
        )
        return df.select(F.col(id_col).alias(f"id_{side}"), F.explode(grams).alias("g"))

    lt = tg(left, left_id, left_col, "l")
    rt = tg(right, right_id, right_col, "r")
    sizes_l = lt.groupBy("id_l").agg(F.count(F.lit(1)).alias("n_l"))
    sizes_r = rt.groupBy("id_r").agg(F.count(F.lit(1)).alias("n_r"))

    def gate(side: DataFrame) -> DataFrame:
        hot = (
            side.groupBy("g")
            .agg(F.count(F.lit(1)).alias("__df__"))
            .filter(F.col("__df__") > max_df)
            .select("g")
        )
        # runtime-sized gate (skew.hot_key_anti_join, persist+count):
        # small over-gate sets (the common case) become a broadcast
        # local relation so the gram-exploded probe never shuffles;
        # an unbounded boilerplate set falls back to a shuffled
        # anti-join over the cached keys (scoped to the returned
        # DataFrame's lifetime via session.pin_to_result) instead of
        # a forced-broadcast OOM.
        return hot_key_anti_join(side, hot, on=["g"], pins=pinned)

    pinned: list[DataFrame] = []
    lt_g = gate(lt)
    rt_g = gate(rt)
    inter = (
        lt_g.join(rt_g, on="g")
        .groupBy("id_l", "id_r")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return pin_to_result(
        inter.join(sizes_l, "id_l")
        .join(sizes_r, "id_r")
        .withColumn(
            "sim",
            F.round(F.col("i") / (F.col("n_l") + F.col("n_r") - F.col("i")), 6),
        )
        .filter(F.col("sim") >= threshold)
        .select(
            F.col("id_l").alias(left_id),
            F.col("id_r").alias(right_id),
            "sim",
        ),
        pinned,
    )
