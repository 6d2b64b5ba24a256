"""Skew mitigation (SURVEY §2.3 broadcast-vs-shuffle note; brief's
"salting for skew").

AQE's skew-join splitting handles most sort-merge skew at runtime;
explicit salting is for the cases AQE can't re-plan — skewed
AGGREGATION keys, and skewed joins against a side small enough to
replicate but too big to broadcast comfortably. Both transforms are
deterministic (hash-derived salt, no RNG) so results are
reproducible and oracle-comparable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    salt_from: Sequence[str],
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with a salted key: the large side's hot keys are
    spread over ``buckets`` partitions via a deterministic hash of
    ``salt_from`` columns; the small side is exploded ×buckets so
    every (key, salt) pair still matches. Output is row-identical to
    the unsalted join; the shuffle's largest partition shrinks
    ~buckets-fold."""
    salt = F.pmod(F.hash(*[F.col(c) for c in salt_from]), F.lit(buckets))
    l = large.withColumn("__salt__", salt)
    s = small.withColumn(
        "__salt__", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    return l.join(s, on=[*on, "__salt__"], how=how).drop("__salt__")


def hot_key_anti_join(
    probe: DataFrame,
    hot: DataFrame,
    on: Sequence[str],
    max_broadcast_keys: int = 100_000,
    pins: list | None = None,
) -> DataFrame:
    """Anti-join ``probe`` against a derived hot-key set whose
    cardinality is unknown until runtime (the hot-bucket / stop-gram
    gates of the pair generators).

    The dilemma this resolves: a forced ``F.broadcast(hot)`` aborts
    with a build-side OOM when a boilerplate-heavy corpus makes the
    over-gate set itself huge — exactly the scales the gate exists to
    protect — but an UNHINTED join plans as sort-merge whose probe
    side (the operator's widest exploded table) writes a full shuffle
    before AQE's runtime broadcast conversion can help (the
    conversion replaces the fetch with a LocalShuffleReader, not the
    already-finished map-side write).

    Resolution: persist the key set and count it — the build (the
    operator's expensive explode+aggregate) runs EXACTLY ONCE in
    every regime, its output landing in the cache. At or under the
    cap — overwhelmingly the common case; the gate drops a handful
    of pathological keys — the keys come back as a broadcast local
    relation (a cache-served collect), the temporary pin is dropped,
    and the gate is truly map-side: the probe never shuffles. Zero
    hot keys skips the join entirely. Over the cap, fall back to a
    shuffled anti-join reading the CACHED keys (no rebuild), which
    degrades instead of failing. The count is an eager job at CALL
    time, per the caching contract these operators document.

    Pin lifecycle on the over-cap path: when the caller passes a
    ``pins`` list, the persisted key set is appended to it and the
    caller scopes it to ITS returned DataFrame (every in-package
    caller does, via session.pin_to_result — the gated join is an
    intermediate of a larger plan, so scoping to this function's
    own return would release before the outer result ever ran).
    Without ``pins`` the pin survives until
    session.release_cached_intermediates, and a warning says so —
    a long-lived session calling this bare accumulates storage
    otherwise."""
    keys = hot.select(*on).persist()
    n = keys.count()
    if n > max_broadcast_keys:
        if pins is not None:
            pins.append(keys)
        else:
            import warnings

            warnings.warn(
                "hot_key_anti_join: over-cap key set "
                f"({n} > {max_broadcast_keys} keys) stays persisted "
                "until session.release_cached_intermediates(spark); "
                "pass pins=[...] to scope it to your result's "
                "lifetime",
                stacklevel=2,
            )
        return probe.join(keys, on=list(on), how="left_anti")
    rows = keys.collect()
    keys.unpersist()
    if not rows:
        return probe
    local = probe.sparkSession.createDataFrame(rows, keys.schema)
    return probe.join(F.broadcast(local), on=list(on), how="left_anti")

