"""Deduplication operators for large-scale training-data pipelines.

No reference counterpart (driver extension scope). Five families:

- exact_dedup         — hash-groupBy keep-first (one shuffle)
- ngram-jaccard       — exact pairwise similarity via shingle join
- MinHash + LSH       — shingle → k minhashes → bands → bucket join;
                        candidates verified with exact jaccard
- SimHash             — bitwise majority signature, hamming buckets
- embedding near-dup  — cosine threshold over vector pairs (see
                        similarity.py for the kernels)

Scale design: everything is shuffle-based (no driver collects); the
LSH band join keys are (band_index, band_value) so candidate
generation is a plain shuffle join whose fan-out is controlled by
rows-per-band; dedup against 100 TB runs as a chain of narrow maps +
three shuffles (shingle explode → signature groupBy → band join).

Determinism: hash functions are md5-derived (content-only, no seeds,
no RNG) so results are reproducible across engines — the DuckDB
oracles replicate the exact algorithm, banding misses and all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from mfdb_hafro_etl_spark.exprcache import column_template
from mfdb_hafro_etl_spark.operators.skew import hot_key_anti_join
from mfdb_hafro_etl_spark.operators.text import tokens
from mfdb_hafro_etl_spark.session import _leaf_scan_bytes, pin_to_result
from mfdb_hafro_etl_spark.sinks.index import (  # noqa: F401 (re-exported write side)
    _lsh_read,
    lsh_index_append,
    lsh_index_compact,
    lsh_index_publish_bucketed,
    lsh_index_write,
)


def _spread_by_id(df: DataFrame, id_col: str, partitions: int | None = None) -> DataFrame:
    """Hash-repartition compact doc rows by id BEFORE the shingle
    explode. Two scale effects: (1) the shuffle moves the small
    pre-explode rows, not the ~50× larger shingle table; (2) the
    resulting HashPartitioning(id) satisfies every downstream
    groupBy(id...) clustering requirement, so signature/size
    aggregations run with no further exchange. Also fixes scan
    parallelism when the input is a single parquet row-group (a
    one-task scan would otherwise run the md5-heavy explode on one
    core). Explicit partition count so AQE doesn't coalesce the
    CPU-bound fan-out away.

    The width is deliberately NOT bytes-gated (tried r13, REVERTED
    with numbers): clamp(leaf_bytes / 64 KB, 1, par) narrowed the
    sf0.1 documents fan-out to ~10 tasks, and the md5-dense
    explode+aggregate chain (which inherits this partitioning) lost
    much of its parallelism (x_dedup_incremental 0.87 → 1.50 s,
    x_dedup_minhash_lsh 1.98 → 2.67 s, isolated A/B). Unlike the
    Python/Arrow kernels session.spread_for_kernel gates, these
    stages are pure JVM codegen — no per-task Python-worker
    handshake — so the fan-out costs only a task launch and the
    CPU-per-byte (~10²-10³× a scan) repays it even at kilobyte
    inputs."""
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(id_col))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate removal: md5-bucket rows, keep the smallest id
    per bucket. Returns the surviving rows' (id, hash)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column. Docs shorter
    than n tokens get an empty array; null text also gets an empty
    array (not null).

    Construction is a single regexp_extract_all with a lookahead —
    one overlapping match per token start — rather than the obvious
    transform/slice lambda over a sequence(). Equivalent output
    (property-pinned against the lambda construction in
    tests/test_corpus_property.py), but measured ~4x faster on the
    shingle explode AND stable run-to-run: every higher-order
    function in a plan mints fresh lambda-variable names, so the
    generated code never hits the codegen class cache and each query
    re-runs cold (janino compile + interpreted warmup on the
    md5-heavy hot path). `[^ ]*` (not `\\S+`) reproduces split(' ')
    token semantics exactly — consecutive spaces yield empty tokens
    in both constructions."""
    # string-name dispatch FIRST: building body/pat before it was dead
    # work on every memo hit (r12 ADVICE low)
    if isinstance(col, str):
        return _shingles_named(col, n)
    body = " ".join(["[^ ]*"] * n)
    # both alternatives zero-width: a consuming " " alternative would
    # be skipped when the previous token start matched zero-width one
    # char earlier (leading-space texts would lose a shingle)
    pat = f"(?:^|(?<= ))(?=({body}))"
    return F.coalesce(
        F.array_distinct(F.regexp_extract_all(col, F.lit(pat), F.lit(1))),
        F.array().cast("array<string>"),
    )


@column_template
def _shingles_named(name: str, n: int) -> Column:
    """shingles() template for a plain column name — memoized per
    (name, n) so the per-query (and per-micro-batch) rebuilds reuse
    one tree."""
    return shingles(F.col(name), n)


def shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    partitions: int | None = None,
) -> DataFrame:
    """(id, shingle) exploded, distinct per doc. ``partitions``
    overrides the fan-out width for callers that know the input's
    scale better than the default (the streaming ingest handler sizes
    its increment-sized batches to the stream's state width)."""
    return _spread_by_id(df.select(id_col, text_col), id_col, partitions).select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int = 1000,
) -> DataFrame:
    """Pairwise n-gram Jaccard via shingle equi-join (brute-force
    baseline; use minhash_lsh_pairs at scale).
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded
    to 6 for stable cross-engine comparison.

    ``max_df`` is the stop-shingle gate (same discipline as
    winnow_pairs): a shingle occurring in more than max_df documents
    is excluded from PAIR GENERATION — one boilerplate shingle shared
    by k docs otherwise fans the self-join out to k² rows, which is
    the blowup that kills naive pair joins at corpus scale. Jaccard
    denominators still count the full shingle sets, so when the gate
    trips, affected pairs' jaccard is an underestimate (standard
    stop-word tradeoff; the SQL oracle replicates the gate exactly).
    The doc-frequency count is a window pass over the same shingle
    partitioning the self-join shuffles on — no extra shuffle.
    """
    from pyspark.sql import Window

    # shuffle INT64 shingle keys, not the raw n-gram strings: every
    # downstream step (df-count window, self-join, intersection
    # count) needs only shingle EQUALITY, and xxhash64 preserves
    # equality while cutting the shuffle key from ~20-40 UTF-8 bytes
    # to 8 (the heaviest dedup arm's x100 cost was string key
    # shuffle volume). Collision analysis, both directions: a
    # WITHIN-doc collision merges two distinct shingles of one set
    # (~shingles_per_doc²/2⁶⁵ per doc); a CROSS-doc collision maps
    # different shingles of two docs to one key, inflating n_inter
    # (and the df gate) — unlike the raw-string SQL oracle, which
    # never collides, so this is the direction that could DISAGREE
    # with the oracle. Its probability is bounded by the birthday
    # term over ALL distinct shingles, ~(corpus_distinct_shingles)²/
    # 2⁶⁵ — at 10¹² distinct shingles (100 TB-ish) that is ~10⁻⁸ per
    # corpus, and at test scale ~10⁻¹⁶; accepted as the standard
    # fingerprinting trade (same bound as minhash banding itself).
    #
    # NO cache on `sh`, deliberately: wrapping the shingle table in
    # InMemoryRelation puts a TableCacheQueryStage under each
    # self-join side, and AQE's stage canonicalization does NOT
    # unify those — the shingle exchange (and the df-count window
    # feeding it) would run TWICE. Uncached, the two sides
    # canonicalize equal and share one shuffle via
    # ReusedExchange/stage reuse (pinned by
    # test_plan_quality.py::test_multi_consumer_intermediates_materialize_once),
    # so the explode+hash map work runs once. Doc shingle-set sizes
    # come straight off the documents scan (size of the distinct
    # shingle array — map-only, no explode, no shuffle) instead of
    # re-aggregating the exploded table, which is what made a cache
    # look necessary in the first place.
    sh = shingle_table(df, id_col, text_col, n).select(
        F.col(id_col), F.xxhash64("shingle").alias("shingle")
    )
    sizes = df.select(
        F.col(id_col), F.size(shingles(text_col, n)).alias("n_sh")
    )
    # NOTE: do NOT cache/materialize `gated` either — it would add a
    # full-shingle-table materialization on top of the shared
    # shuffle (measured 38s → 50s at the 100× fixture).
    gated = (
        sh.withColumn("__df__", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .filter(F.col("__df__") <= max_df)
        .drop("__df__")
    )
    a = gated.select(F.col(id_col).alias("id_a"), "shingle")
    b = gated.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


@column_template
def _minhash_hash_cols(k: int) -> tuple[Column, ...]:
    """ceil(k/4) salted md5 digests per shingle row — each 128-bit
    digest yields FOUR independent 32-bit minhash functions (8-hex
    slices of a uniform digest), so k functions cost k/4 md5
    evaluations instead of k. The signature groupBy is the dominant
    cost of minhash_lsh_pairs at scale (26.5M shingle rows × 8 md5s
    at the 100× fixture); projecting the digests BEFORE the
    aggregate guarantees one evaluation each regardless of
    aggregate-codegen subexpression elimination. Template memoized
    per k (exprcache): every minhash consumer — and the streaming
    dedup handler PER MICRO-BATCH — re-built this identical tree."""
    n_md5 = -(-k // 4)
    return [
        F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle"))).alias(f"__m{s}__")
        for s in range(n_md5)
    ]


@column_template
def _minhash_min_exprs(k: int) -> tuple[Column, ...]:
    """k minhash aggregates over the projected digests: h_i =
    min(substr(md5('{i//4}:' || shingle), 8·(i%4)+1, 8)). Min over
    fixed-width lowercase hex is engine-portable (lexicographic ==
    numeric on a uniform 32-bit slice) and needs no RNG."""
    return [
        F.min(
            F.substring(F.col(f"__m{i // 4}__"), (i % 4) * 8 + 1, 8)
        ).alias(f"h{i}")
        for i in range(k)
    ]


@column_template
def _band_array(k: int, rows_per_band: int) -> Column:
    """array<struct<band,val>> of LSH band keys over signature
    columns h0..h{k-1} — the shared template behind
    minhash_lsh_pairs and lsh_band_table."""
    n_bands = k // rows_per_band
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("val"),
            )
            for b in range(n_bands)
        ]
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    partitions: int | None = None,
) -> DataFrame:
    """(id, h0..h{k-1}) minhash signature, one groupBy over the
    exploded shingle table. ``partitions`` — see shingle_table."""
    sh = shingle_table(df, id_col, text_col, n, partitions)
    return (
        sh.select(id_col, *_minhash_hash_cols(k))
        .groupBy(id_col)
        .agg(*_minhash_min_exprs(k))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.6,
    max_bucket_df: int = 100_000,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verified.

    1. signature: k minhashes per doc (one shuffle);
    2. banding: k/rows_per_band bands, band value = concat of its
       minhashes; candidates = docs sharing any (band_idx, value)
       (one shuffle join);
    3. verification: exact n-gram jaccard on candidates only.

    Banding probability gates candidate generation exactly as in the
    standard MinHash-LSH construction; because hashes are content-
    derived, the (rare) banding misses are deterministic and
    reproduced by the SQL oracle.

    ``max_bucket_df`` is the hot-bucket gate (the max_df discipline
    of the other pair generators, applied to band buckets): a bucket
    shared by B docs fans out B²/2 candidate pairs INSIDE ONE TASK —
    the self-join hashes on (band, val), so a million-doc boilerplate
    bucket is a half-trillion-row task no executor survives. Buckets
    over the gate are dropped BEFORE the join; their members are
    exact/boilerplate duplicates that exact_dedup (or a lower gate +
    duplicate_spans) handles at linear cost. The gate is a map-side
    broadcast anti-join: bucket sizes come from a partial-aggregated
    groupBy (every task pre-combines its share of a hot bucket, so no
    single task ever holds the bucket), the over-gate bucket KEYS are
    a tiny broadcast, and hot rows are dropped before they shuffle —
    a count-WINDOW gate would itself funnel the million-row bucket
    into one partition just to count it.
    """
    assert k % rows_per_band == 0
    # the shingle table feeds both signature generation and candidate
    # verification — cache it so the explode runs once. All pins in
    # this operator are scoped to the returned DataFrame's lifetime
    # (session.pin_to_result at the return).
    pinned: list[DataFrame] = []
    sh = shingle_table(df, id_col, text_col, n).cache()
    pinned.append(sh)
    # cache the signatures too: the band-exploded table feeds THREE
    # consumers (the hot-bucket count and both self-join sides), and
    # without the cache each re-runs the full signature aggregation
    # over the shingle table — measured ~25% of the operator's wall
    # at the 100× fixture. Signatures are doc-count-sized (k short
    # hex slices per doc), the cheapest thing in the plan to pin.
    sig = (
        sh.select(id_col, *_minhash_hash_cols(k))
        .groupBy(id_col)
        .agg(*_minhash_min_exprs(k))
        .cache()
    )
    pinned.append(sig)
    # NO separate eager sig.count() fill (r12 had one): the hot-bucket
    # gate below (hot_key_anti_join) runs an eager key count at call
    # time whose plan is exploded → sig → sh — ONE linear chain, so
    # executing it fills BOTH caches on the way (no concurrent-stage
    # cache miss is possible within that single action). The r12 shape
    # paid a full extra aggregation pass + a serialized job just to
    # fill what the very next action fills anyway (guide §5, measured:
    # p12/ccnet/minhash arms each save one signature-sized job). The
    # self-join sides and the verify joins then read the filled
    # caches exactly as before.
    bands = _band_array(k, rows_per_band)
    exploded = sig.select(F.col(id_col), F.explode(bands).alias("bv")).select(
        F.col(id_col), F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )
    hot = (
        exploded.groupBy("band", "val")
        .agg(F.count(F.lit(1)).alias("__bdf__"))
        .filter(F.col("__bdf__") > max_bucket_df)
        .select("band", "val")
    )
    # runtime-sized gate (skew.hot_key_anti_join): the over-gate
    # key count is unbounded (worst case ~n_docs·n_bands/max_bucket_df
    # at a boilerplate-heavy corpus), so a forced broadcast could OOM
    # at exactly the scales the gate protects — but an unhinted join
    # makes the band-exploded probe side write a full shuffle before
    # AQE's runtime broadcast conversion. The helper persists+counts
    # the key set (one build, eager job at call time): small set →
    # broadcast local relation (map-side drop, no probe shuffle),
    # empty → no join at all, huge → shuffled anti-join over the
    # CACHED keys (pinned until release_cached_intermediates) that
    # degrades instead of failing.
    exploded = hot_key_anti_join(exploded, hot, on=["band", "val"], pins=pinned)
    left = exploded.select(F.col(id_col).alias("id_a"), "band", "val")
    right = exploded.select(F.col(id_col).alias("id_b"), "band", "val")
    candidates = (
        left.join(right, on=["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    # verify candidates with exact jaccard (reuses the cached
    # shingles). Intersection = candidate pairs fanned out over A's
    # shingles, equi-joined against B's (id_b, shingle) — a hash join
    # whose intermediate is |pairs|·|A| rows. (Joining a and b to the
    # pair FIRST and filtering shingle equality afterwards would
    # materialize |A|·|B| rows per pair — quadratic in doc length.)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        candidates.join(a, "id_a")
        .join(b, on=["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return pin_to_result(
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"),
        pinned,
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash signature: per token, take the first ``bits`` bits of
    md5(token); sum ±1 per bit position over all tokens; the sign
    vector packed into an integer. Pure Column algebra via an
    explode over bit positions (portable to the SQL oracle via the
    same hex-digit arithmetic).

    bits must be ≤ 28 so the packed value fits an int32 exactly in
    both engines.
    """
    assert bits <= 28
    tok = _spread_by_id(df.select(id_col, text_col), id_col).select(
        F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok")
    ).withColumn("h", F.md5(F.col("tok")))
    # bit j of the hex string: hex digit at position floor(j/4),
    # value via base-16 parse, bit = (value >> (3 - j%4)) & 1
    bitpos = tok.select(
        F.col(id_col),
        F.col("h"),
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j"),
    ).withColumn(
        "digit_val",
        F.conv(
            F.col("h").substr(F.floor(F.col("j") / 4).cast("int") + 1, F.lit(1)),
            16,
            10,
        ).cast("int"),
    ).withColumn(
        # column-valued shift amounts need the SQL form (the Python
        # F.shiftright wrapper only takes a literal int)
        "bit",
        F.expr("shiftright(digit_val, cast(3 - j % 4 as int)) & 1"),
    )
    per_bit = bitpos.groupBy(id_col, "j").agg(
        F.sum(F.when(F.col("bit") == 1, 1).otherwise(-1)).alias("balance")
    )
    packed = per_bit.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("balance") > 0, F.expr("shiftleft(cast(1 as bigint), cast(j as int))")).otherwise(0)
        )
        .cast("int")
        .alias("simhash")
    )
    return packed


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 3,
    max_df: int = 20,
) -> DataFrame:
    """Near-duplicate pairs via winnowing fingerprints: docs sharing
    ≥ ``min_shared`` selected hashes. The winnowing index is ~2/(w+1)
    the size of a full k-gram index, so the candidate self-join
    shuffles a fraction of the shingle-join's bytes — the scale path
    when MinHash recall (whole-doc similarity) is the wrong tool and
    substring-level overlap is wanted (MOSS semantics: any shared
    run ≥ k+window-1 chars is caught).

    Same join discipline as the shingle path: fingerprints are
    exploded once (pre-spread by id), pairs form on the fp equi key,
    id_a < id_b halves the matrix.

    ``max_df`` is the stop-fingerprint gate: a fingerprint occurring
    in more than max_df documents (boilerplate, shared templates) is
    excluded from pair generation — without it one hot fingerprint
    makes the self-join quadratic in its document frequency, which is
    exactly the blowup that kills naive pair joins at corpus scale.
    The doc-frequency count rides the same fp partitioning the
    self-join needs, so the gate costs one window pass, not an extra
    shuffle.
    """
    from pyspark.sql import Window

    from mfdb_hafro_etl_spark.operators.text import winnow_fingerprint_table

    fps = winnow_fingerprint_table(
        _spread_by_id(df.select(id_col, text_col), id_col), id_col, text_col, k, window
    )
    fps = (
        fps.withColumn("__df__", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("__df__") <= max_df)
        .drop("__df__")
    )
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, on="fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Release the RDD blocks behind a localCheckpoint'd DataFrame.

    localCheckpoint persists at the RDD level, which
    spark.catalog.clearCache() never reclaims — an iterative
    algorithm that checkpoints per round would otherwise leak one
    RDD per round for the life of the session (measured: multi-query
    sessions degrade 2-10x once the accumulated blocks squeeze
    execution memory). The checkpointed RDD lives on the analyzed
    LogicalRDD node; best-effort via py4j, harmless if the plan
    shape ever changes."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


_MEM_SUFFIX = {"k": 10, "m": 20, "g": 30, "t": 40}


def _driver_memory_bytes(spark) -> int:
    """Parse ``spark.driver.memory`` ("512m", "8g", plain bytes) to
    bytes; Spark's own default when unset is 1g.

    Accepts both Spark suffix spellings ("8g" AND "8gb" — JavaUtils
    parses either): the trailing 'b' is stripped before the suffix
    lookup so "512mb" doesn't silently fall through to the 1g
    default and collapse the auto-derived driver gates."""
    raw = str(spark.conf.get("spark.driver.memory", "1g")).strip().lower()
    if len(raw) > 1 and raw.endswith("b") and raw[-2] in _MEM_SUFFIX:
        raw = raw[:-1]
    if raw and raw[-1] in _MEM_SUFFIX:
        try:
            return int(float(raw[:-1])) << _MEM_SUFFIX[raw[-1]]
        except ValueError:
            return 1 << 30
    try:
        # plain byte counts, with or without JavaUtils' bare-"b"
        # suffix ("134217728", "100b")
        return int(raw[:-1] if raw.endswith("b") else raw)
    except ValueError:
        return 1 << 30


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
    driver_max_edges: int | None = None,
    driver_max_bytes: int | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs → duplicate
    clusters: every doc that appears in a pair gets
    ``cluster_id`` = the smallest doc id reachable through the pair
    graph (the canonical representative a dedup pipeline keeps).

    Min-label propagation with pointer jumping (path halving): each
    round (1) takes the min label over self + neighbors — one
    shuffle join + aggregation — then (2) replaces every label with
    its label's label. Both driver gates default to ``None`` =
    derived from the session's actual ``spark.driver.memory``: bytes
    gate = mem/8 (clamped [64 MB, 2 GB]), edge gate = bytes gate /
    48 B-per-edge working set (clamped [1M, 64M]) — a 2 g driver
    stops at ~500k-edge string graphs while a 64 g driver happily
    takes tens of millions, instead of one static threshold
    pretending every driver is the same size. Explicit ints pin the
    gates (tests, known deployments).
    Propagation alone needs O(diameter) rounds;
    the jump halves remaining label-chain depth per round, so
    convergence is O(log diameter) — max_iter=30 covers components
    ~2^27 deep, deeper than any physical duplicate graph, which is
    why the deep-graph escape hatch is a jump, not a bigger budget.
    The driver loop is control-only (driver-side LOOP, never
    driver-side DATA).

    Broadcast-sized graphs take a driver fast path: when the
    materialized edge list is under ``driver_max_edges`` AND, for
    string ids, the total id UTF-8 bytes in the edge list are under
    ``driver_max_bytes``/2 (so ≈ driver_max_bytes of Arrow+pandas
    footprint — wide ids can't ride a small edge count into a small
    driver), the
    edges come to the driver via Arrow (``toPandas``, no per-row
    ``Row`` objects), endpoints are factorized to sorted integer
    codes, and union-find + path compression runs over a single
    int64 numpy parent array; the node-count-sized result returns
    as a JVM local relation. Driver footprint at the 4M gate is
    therefore ~2 numpy int64 code arrays (32 MB each) + one parent
    array + each distinct id stored ONCE (pandas uniques) — tens to
    low hundreds of MB even for long string ids, not the multi-GB a
    naive ``collect()`` of Row objects plus a dict-based union-find
    would cost. The
    distributed loop below pays ~1.5 s of scheduling per round
    regardless of data size, so a small pair graph (the common case:
    pair generation is already threshold-gated) costs seconds for
    nothing; at corpus scale the edge list blows the gate and the
    O(log d) loop is the only path that works. Both paths are pinned
    to agree with a pure union-find reference on random graphs
    (tests/test_corpus_property.py).

    Round 1 is fused into the init: label(v) = min(v, min N(v)) is
    a single aggregation over the edge list, no join. The symmetric
    edge union cannot produce duplicate rows from (a<b) input pairs
    (duplicates would only thicken the min, not change it), so
    there is no dedup shuffle. Each round localCheckpoints the new
    labels (truncating lineage so plans don't grow) and unpersists
    the previous round's blocks — long sessions see only the final,
    node-count-sized result linger. The convergence probe is fused:
    the labels branch carries its own label as __old__ through the
    min-groupBy, so "did anything change" is a filter over the
    already-checkpointed result, no second join.
    """
    # checkpoint the ONE-orientation pair list before the symmetric
    # union: each union branch otherwise re-evaluates the (expensive,
    # shuffle-heavy) pair-generation plan feeding `pairs` — measured
    # 2× the whole operator's cost on the LSH pair graph
    # null endpoints are dropped up front: a null id is a malformed
    # edge (it would never equi-join in the distributed pointer-
    # jumping rounds anyway), and in the driver fast path a null
    # factorizes to code -1, which numpy negative indexing would
    # silently alias to the LAST unique id — corrupting that node's
    # cluster instead of failing.
    e = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .localCheckpoint(eager=True)
    )
    # runtime size gate (the checkpoint makes the count free): small
    # graph → exact driver union-find, one job, no iteration, and the
    # symmetric union is never built. The edge-COUNT gate alone is
    # blind to id width — 4M edges of 1 KB string ids is ~8 GB of
    # Arrow payload before factorize even runs, enough to OOM an 8 g
    # driver — so string-keyed graphs also pass a BYTES gate computed
    # from the checkpointed edges (one cheap agg, no extra scan of
    # the pair-generation plan). Fixed-width ids skip the agg.
    if driver_max_bytes is None or driver_max_edges is None:
        mem = _driver_memory_bytes(pairs.sparkSession)
        if driver_max_bytes is None:
            driver_max_bytes = max(64 << 20, min(mem // 8, 2 << 30))
        if driver_max_edges is None:
            driver_max_edges = max(
                1_000_000, min(driver_max_bytes // 48, 64_000_000)
            )
    n_edges = e.count()
    within_gate = 2 * n_edges <= driver_max_edges
    if within_gate and isinstance(pairs.schema[id_a].dataType, StringType):
        # octet_length (UTF-8 bytes), not length (characters): the
        # gate reasons about Arrow/pandas MEMORY, and multibyte ids
        # would undercount by up to 4x under a character count
        id_bytes = e.agg(
            F.sum(F.octet_length("a") + F.octet_length("b")).alias("b")
        ).collect()[0]["b"] or 0
        # Arrow transfer + pandas object overhead ≈ 2× raw chars
        within_gate = 2 * id_bytes <= driver_max_bytes
    if within_gate:
        try:
            pdf = e.toPandas()
        finally:
            _unpersist_checkpoint(e)
        import numpy as np
        import pandas as pd

        # factorize BOTH endpoint columns over one concatenated
        # series with sort=True: codes then order exactly like the
        # id values, so min-code == min-id and the canonical
        # representative survives the integer translation. Each
        # distinct id is stored once (uniques); the union-find state
        # is one int64 array.
        combined = pd.concat(
            [pdf.iloc[:, 0], pdf.iloc[:, 1]], ignore_index=True
        )
        codes, uniques = pd.factorize(combined, sort=True)
        m = len(pdf)
        parent = np.arange(len(uniques), dtype=np.int64)

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for ca, cb in zip(codes[:m].tolist(), codes[m:].tolist()):
            ra, rb = find(ca), find(cb)
            if ra != rb:
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        from pyspark.sql import types as T

        from mfdb_hafro_etl_spark.localrel import local_df

        id_type = pairs.schema[id_a].dataType
        node_ids = uniques.tolist()
        return local_df(
            pairs.sparkSession,
            [(node_ids[c], node_ids[find(c)]) for c in range(len(node_ids))],
            T.StructType(
                [
                    T.StructField("doc_id", id_type),
                    T.StructField("cluster_id", id_type),
                ]
            ),
        )
    edges = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    _unpersist_checkpoint(e)
    labels = (
        edges.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("label"))
        .select(F.col("a").alias("node"), "label")
        .localCheckpoint(eager=True)
    )
    label_t = labels.schema["label"].dataType.simpleString()
    # the handle whose analyzed plan IS the checkpoint LogicalRDD —
    # unpersisting a derived projection silently no-ops, so track the
    # checkpointed frame itself across rounds
    prev_ckpt = labels
    changed = 1
    try:
        for _ in range(max_iter):
            prop = (
                edges.join(labels.withColumnRenamed("node", "a"), on="a")
                .select(F.col("b").alias("node"), "label")
            )
            merged = (
                labels.withColumn("__old__", F.col("label"))
                .unionByName(prop.withColumn("__old__", F.lit(None).cast(label_t)))
                .groupBy("node")
                .agg(
                    F.min("label").alias("label"),
                    F.min("__old__").alias("__old__"),
                )
            )
            # pointer jump: label <- label(label). Every label value is
            # a node id present in `merged` (labels only ever hold
            # reachable node ids), so the inner self-join is total;
            # label(label) ≤ label by monotonicity, no least() needed.
            # Catalyst reuses the aggregation exchange across the
            # self-join's two sides.
            relabel = merged.select(
                F.col("node").alias("label"), F.col("label").alias("__l2__")
            )
            jumped = (
                merged.join(relabel, on="label")
                .select("node", F.col("__l2__").alias("label"), "__old__")
                .localCheckpoint(eager=True)
            )
            changed = jumped.filter(F.col("label") < F.col("__old__")).limit(1).count()
            _unpersist_checkpoint(prev_ckpt)
            prev_ckpt = jumped
            labels = jumped.drop("__old__")
            if changed == 0:
                break
    except Exception:
        # a failed round (executor loss, OOM) must not strand the
        # round checkpoints for the life of the session
        _unpersist_checkpoint(edges)
        _unpersist_checkpoint(prev_ckpt)
        raise
    if changed != 0:
        # a component deeper than max_iter would otherwise return
        # silently-unconverged labels that disagree with the exact
        # recursive-CTE oracle with no signal; release everything —
        # nothing useful survives this failure
        _unpersist_checkpoint(edges)
        _unpersist_checkpoint(prev_ckpt)
        raise RuntimeError(
            f"duplicate_clusters did not converge within max_iter={max_iter} "
            f"rounds — with path halving that means a component ~2^{max_iter} "
            "deep; raise max_iter only after checking the pair graph is sane"
        )
    # the result depends only on the final checkpoint; the edge list's
    # blocks (the largest residue) can go now
    _unpersist_checkpoint(edges)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def cluster_representatives(
    clusters: DataFrame,
    scores: DataFrame | None = None,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str | None = None,
) -> DataFrame:
    """Pick each duplicate cluster's kept member — the keep-one policy
    made explicit and quality-aware.

    Default (``score_col=None``): the canonical min-id representative,
    exactly reproducing what consumers of duplicate_clusters do today
    with ``doc_id == cluster_id`` (cluster_id IS the component's
    smallest id by construction; parity pinned by
    tests/test_corpus_ops.py), emitted without a shuffle.

    With ``score_col`` (a NUMERIC quality signal — Gopher keep flags,
    an LM perplexity negated, a length prior): the kept member is the
    cluster's HIGHEST-scoring doc, ties broken by smallest id so the
    policy stays deterministic. Real pipelines keep the best cluster
    member, not the numerically-smallest id; min-id stays the default
    because it is score-free and reproducible across re-crawls.
    ``scores`` is joined on ``id_col`` (rows without a score rank
    below every scored row — NULL sorts last in the struct min via a
    null flag); the selection is ONE hash aggregate over the
    node-count-sized cluster table, linear at any corpus scale.

    Returns (cluster_col, keep_id)."""
    if score_col is None:
        return clusters.filter(F.col(id_col) == F.col(cluster_col)).select(
            F.col(cluster_col), F.col(id_col).alias("keep_id")
        )
    if scores is None:
        raise ValueError("score_col given but no scores frame")
    from pyspark.sql.types import NumericType

    if not isinstance(scores.schema[score_col].dataType, NumericType):
        raise TypeError(
            f"score_col {score_col!r} must be numeric (struct-min ordering "
            f"negates it), got "
            f"{scores.schema[score_col].dataType.simpleString()}"
        )
    joined = clusters.join(
        scores.select(F.col(id_col), F.col(score_col).alias("__s__")),
        [id_col],
        "left",
    )
    # min over (score missing?, -score, id): highest score first,
    # unscored docs after every scored one, smallest id on ties
    pick = F.min(
        F.struct(
            F.col("__s__").isNull().cast("int").alias("m"),
            (-F.coalesce(F.col("__s__"), F.lit(0.0))).alias("negs"),
            F.col(id_col).alias("i"),
        )
    )
    return (
        joined.groupBy(cluster_col)
        .agg(pick.alias("__p__"))
        .select(F.col(cluster_col), F.col("__p__.i").alias("keep_id"))
    )


def lsh_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    partitions: int | None = None,
) -> DataFrame:
    """(id, band, val) LSH band keys — the shareable half of
    minhash_lsh_pairs, split out so incremental dedup can build the
    corpus side ONCE (at 100 TB the corpus band table is a
    materialized index maintained alongside the corpus; the batch
    side is computed per increment). ``partitions`` — see
    shingle_table."""
    assert k % rows_per_band == 0
    sig = minhash_signatures(df, id_col, text_col, n, k, partitions)
    bands = _band_array(k, rows_per_band)
    return sig.select(F.col(id_col), F.explode(bands).alias("bv")).select(
        F.col(id_col), F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )


def dedup_against(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Incremental dedup: flag batch documents that duplicate the
    EXISTING corpus — the shape every growing training corpus needs
    (dedupe the new crawl against 100 TB already ingested, without
    re-pairing the corpus against itself).

    Returns (id, dup_kind, match_id) for batch docs that match:
    - ``exact``: identical text (md5 equi-join against the corpus
      hash index; match_id = smallest matching corpus id);
    - ``near``: shares at least one MinHash LSH band bucket with a
      corpus doc (match_id = smallest bucket-mate), for docs not
      already exact.
    Clean batch docs produce no row (the common case at scale — the
    output stays increment-sized).

    Scale design: the corpus side (hash index, band table) is built
    here from ``corpus`` and probed by _lsh_probe, the same probe
    dedup_against_index runs against a materialized index; the batch
    side shuffles only increment-sized data. No corpus self-join ever
    happens. The exact arm groups the corpus per hash BEFORE the join,
    so a boilerplate text duplicated M times in the corpus contributes
    one row, not M, to the join."""
    c_hash, c_bands = _lsh_keys(corpus, id_col, text_col, n, k, rows_per_band)
    corpus_exact = c_hash.groupBy("h").agg(F.min(id_col).alias("cid"))
    return _lsh_probe(
        *_lsh_keys(batch, id_col, text_col, n, k, rows_per_band),
        corpus_exact,
        c_bands.withColumnRenamed(id_col, "cid"),
        id_col,
    )


def _lsh_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    k: int,
    rows_per_band: int,
    partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The two LSH probe keys of ``df``: its (id, h) md5 content hashes
    and its (id, band, val) band table (lsh_band_table). Either side of
    a probe, and the rows an index append writes."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("h")),
        lsh_band_table(df, id_col, text_col, n, k, rows_per_band, partitions),
    )


def _lsh_probe(
    b_hash: DataFrame,
    batch_bands: DataFrame,
    corpus_exact: DataFrame,
    corpus_bands: DataFrame,
    id_col: str,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """The one LSH corpus probe, behind dedup_against (corpus side
    computed) and dedup_against_index (corpus side read by
    sinks.index._lsh_read). Batch side: ``b_hash`` (id, h) and
    ``batch_bands`` (id, band, val); corpus side: ``corpus_exact``
    (h, cid) and ``corpus_bands`` (band, val, cid). Both arms are
    equi-joins on the corpus keys; their matches resolve in ONE
    aggregate over the MATCHED rows only (increment-sized): exact wins
    over near, then the smallest match id.

    ``exclude``: single-column DataFrame of corpus ids whose matches
    are discarded BEFORE min-id resolution, so a surviving verdict
    always points at the smallest NON-excluded match. The LSH ingest
    step (sinks.index._lsh_ingest) passes the batch's own ids: a batch
    redelivered after its index append then reproduces the first
    delivery's verdicts instead of matching its own admissions. The set
    is increment-sized by contract (it anti-joins matched rows, which
    are already increment-scale).

    Returns (id, dup_kind, match_id)."""
    matches = (
        b_hash.join(corpus_exact, on="h")
        .select(F.col(id_col), F.lit(0).alias("kr"), F.col("cid").alias("mid"))
        .unionByName(
            batch_bands.join(corpus_bands, on=["band", "val"]).select(
                F.col(id_col), F.lit(1).alias("kr"), F.col("cid").alias("mid")
            )
        )
    )
    if exclude is not None:
        excl = exclude.toDF("__xid__").dropDuplicates()
        matches = matches.join(excl, on=matches["mid"] == excl["__xid__"], how="left_anti")
    return (
        matches.groupBy(id_col)
        .agg(F.min(F.struct("kr", "mid")).alias("v"))
        .select(
            F.col(id_col),
            F.when(F.col("v.kr") == 0, "exact").otherwise("near").alias("dup_kind"),
            F.col("v.mid").alias("match_id"),
        )
    )


#: compressed leaf-scan bytes below which duplicate_spans skips its
#: eager cache: the positional-gram explode fans text out ~10×, so
#: above this the double explode an uncached plan runs (one per
#: consumer — see the cache comment in the function) costs far more
#: than the materialization barrier (measured 29.2 s uncached vs
#: 6.2 s cached at the 60 MB 100× fixture), while below it the
#: barrier is pure toll on sub-second inputs (the r6 bench flagged
#: sf0.1's 0.6 MB documents drifting 1.46→2.02 s from exactly this).
_SPANS_CACHE_MIN_BYTES = 8 << 20


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_df: int = 2,
    max_df: int = 10000,
    cache_min_bytes: int = _SPANS_CACHE_MIN_BYTES,
) -> DataFrame:
    """Exact duplicate-span detection (the substring-dedup method of
    'Deduplicating Training Data Makes Language Models Better'): for
    every doc, the maximal token spans all of whose n-grams occur in
    at least ``min_df`` documents. A pipeline CUTS these spans rather
    than dropping whole documents — boilerplate headers/footers and
    licence blocks repeat across docs that are otherwise unique.

    Plan shape: positional n-grams (token index kept) keyed by
    xxhash64 of the gram text, df count over those int64 keys,
    hot-gram gate at ``max_df`` (the same stop-fingerprint
    discipline as winnow/ngram pairs — one licence block shared by a
    million docs must not fan out), then adjacent duplicated
    positions merge into maximal spans with the islands trick
    (pos − row_number is constant within a run) — one window pass
    per doc, integer arithmetic only, so the oracle hash has no
    float hazards. Shuffles: gram-hash groupBy + doc-keyed window.

    The positional-gram table is eagerly cached only when the input
    scan exceeds ``cache_min_bytes`` (compressed leaf bytes; see
    _SPANS_CACHE_MIN_BYTES) — the pin is scoped to the returned
    DataFrame's lifetime via session.pin_to_result.

    Returns (id, span_start, span_end, n_dup_grams): token indices,
    0-based, span_end inclusive of the last token of the last
    duplicated n-gram.
    """
    from pyspark.sql import Window

    toks = F.split(F.col(text_col), " ")
    # INT64 gram keys (same rationale as ngram_jaccard_pairs): h is
    # used only for EQUALITY (the df groupBy and the hits join), so
    # xxhash64 of the gram text carries the same information in 8
    # shuffle bytes instead of a 32-char md5 hex string — the h
    # shuffle moves the full positional-gram table, the operator's
    # widest. The SQL oracle keeps raw gram strings; span outputs
    # agree because only equality semantics matter — up to the same
    # two collision terms as ngram_jaccard_pairs' keys (see the
    # comment there): within-doc and cross-doc 64-bit collisions,
    # the cross-doc one being the oracle-divergent direction,
    # bounded by (corpus_distinct_grams)²/2⁶⁵.
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.struct(
            i.alias("pos"),
            F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, n))).alias("h"),
        ),
    )
    pos_grams = (
        _spread_by_id(df.select(id_col, text_col), id_col)
        .filter(F.size(toks) >= n)
        .select(F.col(id_col), F.explode(grams).alias("g"))
        .select(F.col(id_col), F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    )
    # eager fill (see minhash_lsh_pairs): the df-count branch and the
    # hits join both consume pos_grams inside one job — a lazy cache
    # would be empty for both and the positional-gram explode (the
    # operator's most expensive map) would run twice. ReusedExchange
    # can NOT replace this cache even though both consumers hash by
    # h: the aggregate's exchange carries PARTIAL-AGG rows
    # (map-side combine) while the join's carries raw grams, so the
    # two exchanges never canonicalize equal (measured: dropping the
    # cache ran 29.2 s vs 6.2 s at the 100× fixture — the explode
    # re-ran per consumer). Contrast ngram_jaccard_pairs, where both
    # consumers are IDENTICAL window inputs and the uncached shared
    # exchange wins.
    #
    # BYTE-GATED (the spread_for_kernel discipline, session.py):
    # below ``cache_min_bytes`` of compressed leaf input the barrier
    # is pure toll — let the explode run twice. Unknown stats
    # (RDD-backed inputs) read as huge and take the conservative
    # cache path; the pin is scoped to the returned DataFrame's
    # lifetime (pin_to_result below).
    pinned: list[DataFrame] = []
    nbytes = _leaf_scan_bytes(df)
    if nbytes is None or nbytes >= cache_min_bytes:
        pos_grams = pos_grams.cache()
        pos_grams.count()
        pinned.append(pos_grams)
    dfs = (
        pos_grams.groupBy("h")
        .agg(F.countDistinct(id_col).alias("gdf"))
        .filter((F.col("gdf") >= min_df) & (F.col("gdf") <= max_df))
    )
    hits = pos_grams.join(dfs, on="h").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = hits.withColumn(
        "__isl__", F.col("pos") - F.row_number().over(w)
    )
    return pin_to_result(
        islands.groupBy(id_col, "__isl__")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n - 1).alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .drop("__isl__"),
        pinned,
    )


# ---------------------------------------------------------------------
# materialized incremental LSH index (standing dedup service): the
# probe lives here, the layout and the write side in sinks.index
# ---------------------------------------------------------------------

def dedup_against_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    catalog_prefix: str | None = None,
) -> DataFrame:
    """dedup_against, probing a MATERIALIZED index instead of
    recomputing the corpus side per batch: same output contract
    ((id, dup_kind, match_id); exact = identical text, near = shares
    an LSH band bucket, exact wins) and the same probe (_lsh_probe).
    Only increment-sized data shuffles: both probes are equi-joins of
    the batch against the index scan, min-id aggregation happens over
    MATCHED rows only (the semi-join keeps it increment-sized), and the
    corpus is never re-shingled.

    ``catalog_prefix``: probe the catalog-bucketed publication
    (lsh_index_publish_bucketed) instead of the parquet path — the
    corpus side of both probe joins then reads pre-bucketed on the
    join keys and never shuffles (plan-pinned); parameters validate
    against the published meta table."""
    corpus_exact, corpus_bands = _lsh_read(
        spark,
        path,
        {"n": n, "k": k, "rows_per_band": rows_per_band},
        batch.schema[id_col].dataType.simpleString(),
        catalog_prefix,
    )
    return _lsh_probe(
        *_lsh_keys(batch, id_col, text_col, n, k, rows_per_band),
        corpus_exact,
        corpus_bands,
        id_col,
    )
