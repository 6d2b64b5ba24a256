"""Landings pipelines (reference R/initdb.R:322-612).

Current landings ∪ historical file landings, vessel-history
resolution, port→division bucketing, and the ling/tusk
published-landings rescale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mfdb_hafro_etl_spark.exprcache import column_template
from mfdb_hafro_etl_spark.functions.conditionals import nvl
from mfdb_hafro_etl_spark.functions.domain import range_bucket, vessel_id

# rescale_by_published's driver-side collect bound: official
# per-species-per-year published figures run to hundreds of rows at
# any corpus scale; 100k is orders of magnitude of headroom while
# still refusing a mistakenly-passed fact table long before an OOM.
MAX_PUBLISHED_ROWS = 100_000

# port → division ranges (reference R/initdb.R:322-335). Later rules
# overwrite earlier ones in R's masked-assignment style; expressed
# here in first-match-wins order with the overlaps resolved the way
# the R code lands (97 → 103 wins over the 82-96 and 98-115 rules).
PORT_DIVISION_RANGES: list[tuple[int, int, int]] = [
    (0, 15, 110),
    (16, 56, 101),
    (57, 81, 102),
    (82, 96, 104),
    (97, 97, 103),
    (98, 115, 104),
    (116, 121, 105),
    (122, 148, 106),
    (149, 149, 109),
    (150, 10**9, 111),
]


def port2division(hofn: F.Column) -> F.Column:
    """Vectorized port-number → division bucket (SURVEY C8)."""
    return range_bucket(hofn, PORT_DIVISION_RANGES, default=0)


def build_landings_map(lods: DataFrame, skipasaga: DataFrame) -> DataFrame:
    """Vessel-history keys per landing event (reference
    R/initdb.R:346-351): temporal join with OPEN interval bounds
    (l_dags < ur_gildi, l_dags > i_gildi — different from the
    stations pipeline's half-open bounds; preserved exactly)."""
    j = lods.join(F.broadcast(skipasaga), on="skip_nr", how="left")
    keep = _landings_map_keep()
    # repartition on the SUBSET of dedup columns the downstream
    # lods⋈map join shuffles on: a hash partitioning on (skip_nr,
    # komunr, hofn) already satisfies dropDuplicates' 4-column
    # clustering requirement, so the dedup runs with no exchange of
    # its own and — when the join stays sort-merge at scale — the
    # map side arrives at the join pre-partitioned (one shuffle of
    # the map instead of two)
    return (
        j.filter(keep)
        .select("skip_nr", "saga_nr", "komunr", "hofn")
        .repartition("skip_nr", "komunr", "hofn")
        .dropDuplicates()
    )


@column_template
def _landings_map_keep():
    """OPEN temporal-interval bounds (different from the stations
    pipeline's half-open bounds; preserved exactly) — memoized
    template (exprcache)."""
    return (F.col("l_dags") < F.col("ur_gildi")) & (F.col("l_dags") > F.col("i_gildi"))


def build_landed_catch(
    lods: DataFrame,
    fiskifelag: DataFrame,
    landings_map: DataFrame,
    skipasaga: DataFrame,
    gear_mapping: DataFrame,
    species_key: DataFrame,
    port2sr: DataFrame,
    *,
    foreign: bool = False,
    year_min: int = 1993,
) -> DataFrame:
    """Landed catch fact rows (reference R/initdb.R:353-375 domestic,
    :379-397 foreign):

    - current landings (ar > year_min) ∪ historical fiskifelag rows
      (l_dags synthesized from yyyymm, saga_nr=0) — U1 with filled
      columns
    - vessel identity §2.10.1; flokkur nvl 0
    - domestic keeps flokkur != -4, foreign keeps flokkur == -4
    - gear fallback 'LLN'; species whitelist on fteg; areacell via
      port2sr
    """
    cur = (
        lods.join(landings_map, on=["skip_nr", "komunr", "hofn"], how="left")
        .filter(F.col("ar") > year_min)
        .select(
            "veidarfaeri", "skip_nr", "fteg", "ar", "man", "hofn",
            "magn_oslaegt", "veidisvaedi", "l_dags", "saga_nr",
        )
    )
    hist = fiskifelag.select(
        "veidarfaeri", "skip_nr", "fteg", "ar", "man", "hofn",
        "magn_oslaegt", "veidisvaedi",
        F.to_date(
            F.concat(F.col("ar").cast("string"), F.lpad(F.col("man").cast("string"), 2, "0")),
            "yyyyMM",
        ).alias("l_dags"),
        F.lit(0).alias("saga_nr"),
    )
    both = cur.unionByName(hist)
    flokkur_pred = (F.col("flokkur") == -4) if foreign else (F.col("flokkur") != -4)
    sampling = "FLND" if foreign else "LND"
    return (
        both.join(
            F.broadcast(skipasaga.select("skip_nr", "saga_nr", "flokkur")),
            on=["skip_nr", "saga_nr"],
            how="left",
        )
        .withColumn("vessel", vessel_id(F.col("skip_nr"), F.col("saga_nr")))
        .withColumn("flokkur", nvl(F.col("flokkur"), 0))
        .filter((F.col("veidisvaedi") == "I") & flokkur_pred)
        .join(F.broadcast(gear_mapping), on="veidarfaeri", how="left")
        .join(
            F.broadcast(species_key.withColumnRenamed("tegund", "fteg")),
            on="fteg",
            how="inner",
        )
        .join(F.broadcast(port2sr), on="hofn", how="left")
        .withColumn("sampling_type", F.lit(sampling))
        .withColumn("gear", nvl(F.col("gear"), "LLN"))
        .select(
            F.col("magn_oslaegt").alias("weight_total"),
            "sampling_type",
            "areacell",
            "vessel",
            "species",
            F.col("ar").alias("year"),
            F.col("man").alias("month"),
            "gear",
        )
    )


def rescale_by_published(
    landings: DataFrame,
    published: DataFrame,
    years: tuple[int, int] = (1993, 2005),
) -> DataFrame:
    """Ling/tusk rescale (reference R/initdb.R:469-483): ratio r =
    published Iceland landings / DB catch per (species, year) in the
    window; weight_total *= r where a ratio exists.

    ``published`` columns: species, year, iceland (tonnes·1000⁻¹
    comparable to the DB sum/1000).

    One-pass plan shape (round-7 rewrite; the x100 profiling round):
    the ratio's denominator is a per-(species, year) SUM of exactly
    the rows being rescaled, so it is a WINDOW aggregate, not a
    separate ratio join — r = iceland / (sum(weight_total) over
    (species, year) / 1000), published broadcast onto the facts
    first. The landings DAG builds ONCE; the window shuffle keys on
    the group columns (hundreds of groups — far above the shuffle
    width, no skew hazard). Two rejected shapes, both measured at
    the 100× fixture: cache() + ratio-groupBy + join pins the
    landings at FULL InMemoryRelation width regardless of consumer
    pruning (20.5 s; at a real 100 TB landings table a cluster-wide
    cache is not a plan at all), and uncached double-build pays the
    whole DAG twice (19.3 s); the window shape measures 12.9-14.0 s
    across six round-8 isolated fresh-JVM x100 probes, including
    three run on the final artifact tree (in-suite artifact context
    runs higher — long-lived-heap GC + neighbours).
    In the reference the ratio reads landings already materialized
    in the DB (R/initdb.R:399 vs :461) — a caller who wants that
    durable barrier materializes to parquet first
    (sinks.tables.materialize). Float note: window-sum vs
    groupBy-sum association order can differ in the last ulp; the
    oracle gate (sf0.01/sf0.1/x10 all re-verified green) pins the
    rounded outputs.
    """
    from pyspark.sql import Window

    pub = published.filter(F.col("year").between(*years)).select(
        "species", "year", "iceland"
    )
    # (species, year) must be unique: a duplicated key would fan out
    # landings rows through the left join AND inflate the window
    # denominator below (a doubled key halves __r__). Exact duplicate
    # rows collapse silently (same ratio either way); CONFLICTING
    # values for one key have no right answer and picking one at
    # random would make the rescale nondeterministic — refuse loudly.
    # The published table is POLICY-sized by contract (official
    # per-species-per-year figures — hundreds of rows at any corpus
    # scale), so it is collected ONCE and checked driver-side; the
    # join side is rebuilt as a local relation from the same collect,
    # which keeps the published DAG to a single run (a DataFrame-side
    # conflict count would execute it twice: once for the check's
    # action, once inside the join — measured +1 s at x1 / +7 s at
    # x100 on the scale fixture). The limit(N+1) cap ENFORCES the
    # policy-size contract: a caller passing a fact-sized frame gets
    # this loud refusal instead of a driver OOM.
    rows = pub.limit(MAX_PUBLISHED_ROWS + 1).collect()
    if len(rows) > MAX_PUBLISHED_ROWS:
        raise ValueError(
            f"published landings exceed the policy-size contract "
            f"(> {MAX_PUBLISHED_ROWS} rows in the {years} window) — "
            "rescale_by_published collects the published table driver-side "
            "for the uniqueness check; pass the official per-species-per-"
            "year figures, not a fact table."
        )
    seen: dict = {}
    conflicts = set()
    for r in rows:
        key = (r["species"], r["year"])
        if key in seen and seen[key] != r["iceland"]:
            conflicts.add(key)
        seen[key] = r["iceland"]
    if conflicts:
        raise ValueError(
            f"published landings carry {len(conflicts)} (species, year) "
            f"keys with CONFLICTING iceland values (e.g. "
            f"{sorted(conflicts)[:3]}) — the rescale ratio is undefined; "
            "fix the published input"
        )
    pub = published.sparkSession.createDataFrame(
        [(s, y, v) for (s, y), v in sorted(seen.items())], pub.schema
    )
    w = Window.partitionBy("species", "year")
    return (
        landings.join(F.broadcast(pub), on=["species", "year"], how="left")
        .withColumn("__r__", F.col("iceland") / (F.sum("weight_total").over(w) / 1000))
        .withColumn(
            "weight_total",
            F.when(F.col("__r__").isNull(), F.col("weight_total")).otherwise(
                F.col("__r__") * F.col("weight_total")
            ),
        )
        .drop("__r__", "iceland")
    )


def import_filter(landings: DataFrame, bad_vessels: list[str]) -> DataFrame:
    """Pre-import cleanup (reference R/initdb.R:485-495): '-0' vessel
    → NULL, drop hotfix vessels, positive non-null weights only."""
    v_clean, w_pred = _import_filter_cols()
    return (
        landings.withColumn("vessel", v_clean)
        .filter(~nvl(F.col("vessel"), "").isin(list(bad_vessels)))
        .filter(w_pred)
    )


@column_template
def _import_filter_cols() -> tuple:
    """'-0'-vessel NULLing + positive-weight predicate — memoized
    template (the bad-vessel isin stays at the call site: it is
    keyed by a caller-supplied list)."""
    return [
        F.when(F.col("vessel") == "-0", F.lit(None).cast("string")).otherwise(F.col("vessel")),
        (F.col("weight_total") > 0) & F.col("weight_total").isNotNull(),
    ]

