"""Aggregation operators (SURVEY §2.4 A1-A7).

Spark notes: groupBy().agg() gets map-side partial aggregation from
Catalyst automatically; the multi-level re-aggregation A2 is done
with ONE shuffle via window sums instead of the reference's
aggregate→join-back round trip (reference
R/shrimp_support_tables.R:2176-2209).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def proportions_within(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    out: str = "p",
) -> DataFrame:
    """A2 single-pass form: value / sum(value) over partitionBy(keys).

    Replaces the reference's two groupBy stages + join-back
    (skala_med_toldum2 shape, reference
    R/shrimp_support_tables.R:2176-2209) with one window — one
    shuffle on ``keys`` instead of two shuffles + a join."""
    w = Window.partitionBy(*keys)
    return df.withColumn(out, F.col(value) / F.sum(value).over(w))


def group_collect_sorted(
    df: DataFrame,
    key: str,
    value: str,
    out: str = "items",
) -> DataFrame:
    """A7: group-split to named lists (division → gridcell list,
    reference R/initdb.R:52; R/initdb_add_shrimp.R:46-49).
    collect_list order is nondeterministic under shuffle → always
    array_sort for a deterministic result."""
    return df.groupBy(key).agg(F.array_sort(F.collect_list(value)).alias(out))


def scalar_max_offset_ids(
    df: DataFrame,
    existing_max: int,
    order_by: Sequence[str],
    id_col: str = "id",
) -> DataFrame:
    """A5: ``id = max(existing) + 1:n()`` (reference
    R/initdb_add_shrimp.R:26) — new ids offset past an existing max,
    deterministic via explicit order."""
    w = Window.orderBy(*[F.col(c) for c in order_by])
    return df.withColumn(id_col, (F.row_number().over(w) + existing_max).cast("int"))
