"""Window-function operators (SURVEY §2.5 W1-W4, §2.4 A3-A6).

The reference relies on file/read order for ``id = 1:n()`` and
duplicate-dropping (reference R/initdb.R:32;
R/shrimp_support_tables.R:464-475) — order-dependence the engine
engineers away with explicit orderBy (SURVEY §4 hazards). Every
helper here takes explicit ordering keys and is deterministic under
repartition/shuffle (property-tested).

Scale note: a Window.partitionBy over a high-cardinality key is a
single shuffle on that key; the global-order ``sequential_id`` is the
one intrinsically serial op — prefer ``zipWithIndex``-free
monotonically_increasing_id when ids only need uniqueness, and the
window form only for reference-exact dense ids on dimension-sized
data.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sequential_id(
    df: DataFrame,
    order_by: Sequence[str],
    id_col: str = "id",
    start: int = 1,
) -> DataFrame:
    """W1: deterministic ``mutate(id = 1:n())`` (reference
    R/initdb.R:32,166) — row_number over explicit order. Intended for
    dimension-sized frames (single-partition window)."""
    w = Window.orderBy(*[F.col(c) for c in order_by])
    return df.withColumn(id_col, (F.row_number().over(w) + start - 1).cast("int"))


def keep_first_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """A3/A6/W3/W4: deterministic ``distinct(keys, .keep_all=TRUE)`` /
    ``head(x,1)`` per group (reference R/initdb.R:338;
    R/initdb_add_shrimp.R:149; R/shrimp_support_tables.R:464-475).
    One shuffle on the group keys.

    Deterministic iff ``order_by`` totally orders each group's rows
    up to full-row equality — with a partial order, row_number
    tie-breaks on physical row order, which shuffling changes
    (exactly the reference hazard this operator exists to fix;
    property-tested in tests/test_determinism.py)."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_by])
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def with_group_count(
    df: DataFrame,
    keys: Sequence[str],
    count_col: str = "n",
) -> DataFrame:
    """A4/W2: grouped count as a column without collapsing rows
    (reference R/initdb_add_shrimp.R:150-154 towcount)."""
    w = Window.partitionBy(*keys)
    return df.withColumn(count_col, F.count(F.lit(1)).over(w))


def time_range_moving_agg(
    df,
    ts_col: str,
    part_col: str,
    value_col: str,
    days: int = 7,
):
    """Daily aggregate + trailing ``days``-day moving sum per
    partition value, with TIME-RANGE window semantics: the frame is
    `RANGE [day - (days-1), day]` over the integer epoch day, so
    calendar gaps shorten the window (a row-count frame would
    silently reach back past missing days — the classic
    moving-average bug).

    Two-stage shape: the daily groupBy shuffles on
    (partition, day) — full parallelism — and the range window then
    runs over the DAILY rows (partition-value cardinality × days),
    orders of magnitude smaller than the event stream. At 100 TB the
    window partition key should include a high-cardinality entity
    (user, vessel) rather than a low-cardinality type alone; the
    daily pre-aggregation is what keeps the window input small
    either way.

    Daily sums are rounded to 2dp BEFORE the moving sum on both
    engines, so the cross-engine value hash doesn't depend on float
    summation order inside the window frame."""
    from pyspark.sql import Window

    day_i = F.datediff(F.to_date(F.col(ts_col)), F.to_date(F.lit("1970-01-01")))
    daily = (
        df.withColumn("__day__", day_i)
        .groupBy(part_col, "__day__")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value_col), 2).alias("daily"),
        )
    )
    w = (
        Window.partitionBy(part_col)
        .orderBy(F.col("__day__"))
        .rangeBetween(-(days - 1), 0)
    )
    return daily.select(
        F.col(part_col),
        F.date_format(
            F.date_add(F.to_date(F.lit("1970-01-01")), F.col("__day__")), "yyyy-MM-dd"
        ).alias("day"),
        "n",
        "daily",
        F.round(F.sum("daily").over(w), 2).alias(f"moving{days}"),
    )
