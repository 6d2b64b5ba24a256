"""Similarity search over embedding columns (array<float>).

Driver extension scope (no reference counterpart). Two paths:

- brute-force cosine top-k — the exactness baseline: one narrow map
  (dot products against a broadcast query vector) + TakeOrdered.
  At 100 TB this is a full scan but NO shuffle: the query vector is
  a literal, the top-k is a treeReduce.
- LSH-bucketed ANN — random-hyperplane signs (deterministically
  derived from md5, no RNG) bucket vectors; the query only scans its
  own bucket. The scale path: bucket count grows 2^planes, the scan
  per query drops proportionally; buckets are a plain partition key.

Scored paths (everything that rounds to 6) run as Arrow-batched
numpy kernels — one BLAS matvec/matmul per batch, never per-row
Python. The Column cosine (zip_with + aggregate) remains for the
sign-sensitive LSH bucket hash, whose unrounded comparison must keep
the exact fold the SQL oracle uses, and as the expression-level
parity reference.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mfdb_hafro_etl_spark.operators.vecmat import _vec_matrix
from mfdb_hafro_etl_spark.sinks.index import (  # noqa: F401 (re-exported write side)
    _ivf_read,
    _ivf_vectors,
    build_ivf_index,
    ivf_index_append,
    ivf_index_compact,
    ivf_index_publish,
)


def dot(a: Column, b: Column) -> Column:
    # cast to double FIRST so per-element products are computed in
    # double precision (matches the SQL oracle's ::DOUBLE[] path;
    # float-precision products would diverge in the 7th decimal)
    ad, bd = a.cast("array<double>"), b.cast("array<double>")
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    ad = a.cast("array<double>")
    return F.sqrt(
        F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _top_k(scored: DataFrame, k: int, id_col: str, exclude_id: int | None) -> DataFrame:
    """The k best rows of an (id, cos_sim) table without ``exclude_id``,
    ordered (cos_sim desc, id asc) — a total order, so ties are
    deterministic."""
    if exclude_id is not None:
        scored = scored.filter(F.col(id_col) != exclude_id)
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def _cosine_score_table(
    emb: DataFrame, query_vec: list[float], id_col: str, vec_col: str
) -> DataFrame:
    """(id, cos_sim) against one query vector via a numpy Arrow
    kernel: one (batch × dim) @ dim matvec per Arrow batch, rounded
    to 6 like every scored path. Map-only (no shuffle, no
    repartition — the matvec is memory-bound, not CPU-bound), ~10×
    the interpreted zip_with/aggregate fold this replaces; the
    Column ``cosine()`` stays as the expression-level reference for
    small subsets and oracle-parity reading."""
    import numpy as np
    import pandas as pd

    from mfdb_hafro_etl_spark.session import ensure_package_shipped

    ensure_package_shipped(emb.sparkSession)

    qv = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt((qv * qv).sum())) or 1.0

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if not len(pdf):
                continue
            V = _vec_matrix(pdf[vec_col])
            vn = np.sqrt((V * V).sum(axis=1))
            vn[vn == 0] = 1.0
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cos_sim": np.round((V @ qv) / (vn * qn), 6),
                }
            )

    src = emb.select(id_col, vec_col)
    id_t = src.schema[id_col].dataType.simpleString()
    return src.mapInPandas(gen, schema=f"{id_col} {id_t}, cos_sim double")


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.
    Returns (id, cos_sim) with deterministic tie-break on id.
    cos_sim rounded to 6 for engine-portable comparison; scoring runs
    in the Arrow matvec kernel, the top-k as TakeOrdered."""
    return _top_k(_cosine_score_table(emb, query_vec, id_col, vec_col), k, id_col, exclude_id)


#: auto n_blocks target: rows per block. MEASURED knee, not a memory
#: bound (the chunked kernel bounds memory at any block size): at the
#: 100× fixture (200k rows × 64 dims) per-query wall vs block rows
#: was 9.1k→73.7s, 4.5k→24.4s, 3.1k→21.2s, 1.6k→22.7s — blocks of a
#: few thousand rows win ~3.5× over 100k-row blocks because (a) the
#: b(b+1)/2 pair-groups hash far more evenly onto the shuffle
#: partitions (253 groups on 32 partitions carries a ~2× binomial
#: straggler; 2000+ groups ~1.2×) and (b) the per-task GEMM operands
#: fit cache. Replication (shuffle rows = N·n_blocks) grows with
#: smaller blocks, but measured cost is dominated by balance, not
#: shuffle bytes, until well past this point. Below ~1.5k rows
#: per-group Python/Arrow overhead takes over.
_COSINE_PAIRS_BLOCK_ROWS = 4096

#: kernel sims-buffer budget, in ENTRIES: the A·Bᵀ product runs in
#: row chunks of height budget//|B|, so the transient similarity
#: buffer is ≤ 32M doubles ≈ 256 MB per task no matter how wide the
#: blocks are. Without chunking a 25k-row block pair materializes a
#: 25k×25k = 5 GB matrix PER TASK (plus round/mask copies), which
#: multiplied by executor cores is an OOM at any real corpus size.
_COSINE_PAIRS_SIMS_ENTRIES = 32 << 20

#: ceiling on the auto-derived block-grid width: 1024 blocks is
#: already ~524k block-pair tasks — past that, scheduling overhead
#: dominates and per-block rows grow past target_block_rows again
#: (memory stays bounded by the chunked kernel regardless). The cap
#: binds from ~4M rows, where exact all-pairs is already ~10^13
#: FLOPs and climbing quadratically — the right tool past there is
#: lsh_bucket()/semantic_dedup(), not a wider grid.
_COSINE_PAIRS_MAX_BLOCKS = 1024


def cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    target_block_rows: int = _COSINE_PAIRS_BLOCK_ROWS,
) -> DataFrame:
    """Embedding near-duplicate pairs: all (a,b), a<b, with cosine ≥
    threshold.

    Fully distributed blocked matrix product — NO driver collect, no
    full-table broadcast. Rows are hashed into ``n_blocks`` blocks by
    id; each row is shipped to every unordered block pair it
    participates in ((min(b,o), max(b,o)) for o in range(n_blocks)),
    and one applyInPandas group per block pair runs the A·Bᵀ BLAS
    product and emits only pairs over the threshold. Every unordered
    id pair lands in exactly one group, so coverage is exact with no
    dedup pass.

    Scale model: all-pairs cosine is inherently O(N²) compute — at a
    given corpus size that compute is irreducible, so WALL-CLOCK
    grows quadratically with rows on fixed cores no matter the plan;
    the grid controls load BALANCE and per-task MEMORY
    (O((N/n_blocks)·dim), additionally bounded by the chunked
    kernel). ``n_blocks=None`` (default) derives the grid from a
    count: n_blocks = max(ceil(N/target_block_rows), p) where p ≈
    ceil(sqrt(16·defaultParallelism)) keeps the n_blocks·(n_blocks+1)/2
    block-pair tasks at least ~8 per core even on tiny corpora.
    target_block_rows defaults to the MEASURED few-thousand-row knee
    (see _COSINE_PAIRS_BLOCK_ROWS: 3.5× faster than 100k-row blocks
    at the 100× fixture — group-hash balance + cache-sized GEMMs).
    The count is one cheap job (parquet count-star reads footers
    only); pass an explicit int to skip it.
    Output is identical for ANY n_blocks — the grid is pure physical
    layout. Shuffle volume is N·n_blocks rows — the price of
    exactness; when approximate recall is acceptable, pre-bucket with
    lsh_bucket() / semantic_dedup() and run the same kernel within
    buckets instead.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from mfdb_hafro_etl_spark.session import ensure_package_shipped

    ensure_package_shipped(emb.sparkSession)

    # integral-id contract, checked eagerly: a string id would make
    # pmod() yield nulls (every row lands in one degenerate block)
    # and the kernel's int64 conversion garbage — fail loud instead
    id_type = emb.schema[id_col].dataType
    if not isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise TypeError(
            f"cosine_pairs requires an integral id column; {id_col!r} is "
            f"{id_type.simpleString()}. Map string/uuid ids to bigint first "
            f"(e.g. xxhash64(id) or a dimension join) — the output contract "
            f"emits id_a/id_b as bigint with id_a < id_b."
        )

    if n_blocks is None:
        n_rows = emb.count()
        par = emb.sparkSession.sparkContext.defaultParallelism
        # block-pair groups land on shuffle partitions by HASH, so a
        # group count near the core count leaves ~1/e of partitions
        # empty and doubles up others (measured: 36 pairs on 32 cores
        # ran as 24 tasks with 2-group stragglers). ~8× cores worth
        # of pairs averages the collisions out; the extra row
        # replication is linear and negligible next to the O(N²)
        # kernel FLOPs.
        min_for_parallelism = max(1, math.isqrt(16 * par))
        n_blocks = min(
            max(1, -(-n_rows // target_block_rows), min_for_parallelism),
            _COSINE_PAIRS_MAX_BLOCKS,
        )

    # block on a HASH of the id, not the raw id: structured id
    # spaces (all-even ids, ids striding by a multiple of n_blocks)
    # would pile into a few blocks under plain pmod; xxhash64
    # uniformizes any integral distribution at zero extra shuffle
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    # constant-size expression regardless of n_blocks (a literal
    # array of n_blocks structs would grow the Catalyst tree — and
    # break codegen's method-size limit — exactly at the large-N
    # grids the auto path derives)
    pair_keys = F.transform(
        F.sequence(F.lit(0), F.lit(int(n_blocks) - 1)),
        lambda o: F.struct(
            F.least(F.col("__blk__"), o).alias("ba"),
            F.greatest(F.col("__blk__"), o).alias("bb"),
        ),
    )
    exploded = (
        emb.select(F.col(id_col), F.col(vec_col), blk.alias("__blk__"))
        .withColumn("__bp__", F.explode(pair_keys))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("__blk__"),
            F.col("__bp__.ba").alias("__ba__"),
            F.col("__bp__.bb").alias("__bb__"),
        )
    )

    # bind the budget into the closure NOW: the kernel runs in a
    # fresh worker interpreter where module globals are re-imported,
    # so a captured VALUE is the only way callers (and tests) can
    # influence the chunking
    sims_budget = _COSINE_PAIRS_SIMS_ENTRIES

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = int(key[0]), int(key[1])

        def block(b: int):
            part = pdf[pdf["__blk__"] == b]
            ids = part[id_col].to_numpy(dtype=np.int64)
            if len(ids) == 0:
                return ids, np.zeros((0, 1))
            M = _vec_matrix(part[vec_col])
            nrm = np.linalg.norm(M, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            return ids, M / nrm

        ids_a, Ma = block(i)
        if i == j:
            ids_b, Mb = ids_a, Ma
        else:
            ids_b, Mb = block(j)
        if len(ids_a) == 0 or len(ids_b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        # chunked product: the full |A|×|B| sims matrix is quadratic
        # in block width — bound the transient buffer to
        # _COSINE_PAIRS_SIMS_ENTRIES doubles per task instead
        chunk = max(128, sims_budget // len(ids_b))
        outs = []
        for s in range(0, len(ids_a), chunk):
            sims = Ma[s : s + chunk] @ Mb.T
            np.round(sims, 6, out=sims)
            mask = sims >= threshold
            if i == j:
                mask &= ids_a[s : s + chunk, None] < ids_b[None, :]
            ia, ib = np.nonzero(mask)
            if len(ia):
                a_ids = ids_a[s + ia]
                lo = np.minimum(a_ids, ids_b[ib])
                hi = np.maximum(a_ids, ids_b[ib])
                outs.append(
                    pd.DataFrame(
                        {"id_a": lo, "id_b": hi, "cos_sim": sims[ia, ib]}
                    )
                )
        if not outs:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        return pd.concat(outs, ignore_index=True)

    return exploded.groupBy("__ba__", "__bb__").applyInPandas(
        kernel, schema="id_a bigint, id_b bigint, cos_sim double"
    )


def _plane_signs(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: sign of bit 0 of md5(p:d).
    Content-derived, no RNG — reproducible across engines/runs."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) & 1 else -1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit p = (dot(v, plane_p) > 0)."""
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        parr = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot(vec_col, parr) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket.cast("int")


def ann_lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH
    bucket. dim inferred from the query vector."""
    planes = _plane_signs(n_planes, len(query_vec))
    qbucket = 0
    for p, plane in enumerate(planes):
        if sum(q * w for q, w in zip(query_vec, plane)) > 0:
            qbucket |= 1 << p
    # bucket hashing stays pure Column algebra: its sign test has no
    # rounding step, so it must keep the exact fold the oracle uses —
    # only the (rounded) scoring of the surviving bucket runs in the
    # Arrow kernel
    bucketed = emb.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))
    scored = _cosine_score_table(
        bucketed.filter(F.col("bucket") == qbucket), query_vec, id_col, vec_col
    )
    return _top_k(scored, k, id_col, exclude_id)


def _pynorm(v: list[float]) -> float:
    acc = 0.0
    for x in v:
        acc += x * x
    return acc ** 0.5


def _pycos(a: list[float], b: list[float]) -> float:
    d = sum(x * y for x, y in zip(a, b))
    return round(d / (_pynorm(a) * _pynorm(b)), 6)


def _ivf_centroids(
    emb: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    """Deterministic 'training sample': the n_centroids lowest-id
    vectors (no RNG; pass kmeans_iters>0 to the IVF entry points to
    Lloyd-refine these seeds — see _kmeans_refine)."""
    return [
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
    ]


def _ivf_assign_expr(cents: list[tuple[int, list[float]]], vec_col: str) -> Column:
    """Nearest-centroid assignment as ONE SQL expression, the
    expression-level reference for _ivf_assign_table: argmax over the
    literal centroid array via array_sort on (-cos, cid) structs, so
    ties resolve to the smallest centroid id on both engines, with
    cosines rounded to 6 before the comparison so cross-engine ulp
    noise can't flip an assignment. Requires a ``__vnorm__`` column
    holding norm(vec_col)."""

    def _dlit(x: float) -> str:
        return f"CAST('{x!r}' AS DOUBLE)"

    cent_structs = ",".join(
        "named_struct('cid', {cid}, 'nrm', {nrm}, 'vec', array({vec}))".format(
            cid=cid, nrm=_dlit(_pynorm(cv)), vec=",".join(_dlit(x) for x in cv)
        )
        for cid, cv in cents
    )
    return F.expr(
        f"""array_sort(transform(array({cent_structs}), c -> named_struct(
          'negcos', -round(
              aggregate(zip_with(cast(`{vec_col}` as array<double>), c.vec,
                                 (x, y) -> x * y),
                        cast(0.0 as double), (acc, x) -> acc + x)
              / (`__vnorm__` * c.nrm), 6),
          'cid', c.cid)))[0].cid"""
    )


def _ivf_assign_table(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, vec, __cid__) nearest-centroid assignment via an Arrow
    numpy kernel: one (batch × dim) @ (dim × k) matmul per Arrow
    batch, cosines rounded to 6 and ties broken to the lowest cid —
    the same decision rule as _ivf_assign_expr, which stays as the
    expression-level reference (an interpreted 16-struct
    transform/sort per row measures ~10× slower; a parity test pins
    the two to identical assignments). Map-only: no shuffle, and the
    centroid matrix is a closure constant, dimension-sized."""
    import numpy as np
    import pandas as pd

    from mfdb_hafro_etl_spark.session import ensure_package_shipped

    ensure_package_shipped(emb.sparkSession)

    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    C = np.array([cv for _, cv in cents], dtype=np.float64)
    c_norm = np.sqrt((C * C).sum(axis=1))

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if not len(pdf):
                continue
            V = _vec_matrix(pdf[vec_col])
            v_norm = np.sqrt((V * V).sum(axis=1))
            cos = np.round((V @ C.T) / np.outer(v_norm, c_norm), 6)
            # argmax returns the FIRST maximum; cents are cid-ascending,
            # so ties resolve to the lowest cid like the SQL sort
            best = cos.argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "__cid__": cids[best].astype("int32"),
                }
            )

    src = emb.select(id_col, vec_col)
    id_t = src.schema[id_col].dataType.simpleString()
    vec_t = src.schema[vec_col].dataType.simpleString()
    return src.mapInPandas(
        gen, schema=f"{id_col} {id_t}, {vec_col} {vec_t}, __cid__ int"
    )


def _kmeans_refine(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    iters: int,
    id_col: str,
    vec_col: str,
    round_to: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Lloyd refinement of the deterministic lowest-id seeds: each
    iteration assigns every vector to its nearest centroid (the same
    numpy Arrow kernel as the probe path) and re-centers each cluster
    on its member mean. Distributed: assignment is a narrow map, the
    mean is one applyInPandas per cluster; only the k×dim centroid
    matrix ever reaches the driver (the iterative-algorithm pattern —
    driver-side LOOP, never driver-side DATA).

    Deterministic for fixed input: members are sorted by id before
    the mean so float summation order is partition-invariant. Empty
    clusters keep their previous centroid. Refinement changes recall,
    not the operator shape — callers that need exact SQL-oracle
    parity use iters=0 (the seed centroids), or pass ``round_to``
    (decimal places for each updated centroid component) so a SQL
    oracle's unordered AVG and the kernel's sorted-sum mean agree
    despite last-ulp summation-order differences (see
    kmeans_assign)."""
    import numpy as np
    import pandas as pd

    if iters <= 0:
        return cents
    from mfdb_hafro_etl_spark.session import ensure_package_shipped

    ensure_package_shipped(emb.sparkSession)
    src = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)

    def mean_kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        M = _vec_matrix(pdf[vec_col].iloc[order])
        return pd.DataFrame(
            {"cid": [int(key[0])], "centroid": [M.mean(axis=0).tolist()]}
        )

    for _ in range(iters):
        assigned = _ivf_assign_table(src, cents, id_col, vec_col)
        rows = assigned.groupBy("__cid__").applyInPandas(
            mean_kernel, schema="cid int, centroid array<double>"
        ).collect()
        new = {int(r["cid"]): [float(x) for x in r["centroid"]] for r in rows}
        if round_to is not None:
            new = {cid: [round(x, round_to) for x in cv] for cid, cv in new.items()}
        cents = [(cid, new.get(cid, cv)) for cid, cv in cents]
    return cents


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 9,
) -> DataFrame:
    """Distributed k-means clustering over an embedding column:
    deterministic lowest-id seeds, ``iters`` Lloyd rounds
    (_kmeans_refine: assignment = narrow Arrow matmul map, update =
    one applyInPandas mean per cluster), then the final assignment.
    Returns (id, cid).

    The driver holds only the k×dim centroid matrix between rounds
    (driver-side LOOP, never driver-side DATA) — the same shape runs
    unchanged on a 1000-executor cluster, where each round is one
    map + one k-group aggregation over the corpus.

    ``round_to`` (default 9 dp) rounds each updated centroid
    component so the operator is reproducible against engines that
    sum the mean in a different order (the SQL oracle's AVG); pass
    None for raw float64 centroids when cross-engine hashing isn't
    needed."""
    cents = _ivf_centroids(emb, k, id_col, vec_col)
    cents = _kmeans_refine(emb, cents, iters, id_col, vec_col, round_to=round_to)
    return _ivf_assign_table(emb, cents, id_col, vec_col).select(
        F.col(id_col), F.col("__cid__").alias("cid")
    )


def _ivf_probes(
    cents: list[tuple[int, list[float]]], query_vec: list[float], n_probe: int
) -> list[int]:
    return [
        cid
        for cid, _ in sorted(cents, key=lambda c: (-_pycos(query_vec, c[1]), c[0]))[:n_probe]
    ]


def ann_ivf_topk_indexed(
    spark,
    path: str | None,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
    catalog_prefix: str | None = None,
) -> DataFrame:
    """Probe a materialized IVF index (build_ivf_index): pick the
    n_probe nearest centroids driver-side (centroid table is
    dimension-sized), then scan ONLY those clusters' partitions —
    `.explain` shows PartitionFilters on ``__cid__`` and a
    PartitionCount of n_probe, so the pruning is physical, not
    logical.

    ``catalog_prefix``: probe the catalog publication
    (ivf_index_publish) by table name instead of the parquet path; its
    vectors table is partitioned on ``__cid__`` too. Either way the
    index meta guards the probe: a torn index (no meta file, or a meta
    table without exactly one row) and a query vector of the wrong
    dimensionality refuse instead of scoring garbage."""
    meta, cents = _ivf_read(spark, path, catalog_prefix)
    if meta.get("dims") and len(query_vec) != int(meta["dims"]):
        raise ValueError(
            f"IVF index {catalog_prefix or path} holds {meta['dims']}-dim "
            f"vectors; the query vector has {len(query_vec)} dims."
        )
    probes = _ivf_probes(cents, query_vec, n_probe)
    vectors = _ivf_vectors(spark, path, catalog_prefix)
    scored = _cosine_score_table(
        vectors.filter(F.col("__cid__").isin(probes)), query_vec, id_col, vec_col
    )
    return _top_k(scored, k, id_col, exclude_id)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    kmeans_iters: int = 2,
) -> DataFrame:
    """Bulk approximate kNN join: top-k corpus neighbors for EVERY
    query row at once (the batch companion to the one-query
    ann_ivf_topk_indexed).

    Shape: corpus vectors are assigned to their nearest IVF centroid
    (numpy Arrow kernel, narrow map); each query expands to its
    ``n_probe`` nearest cells (mapInPandas, n_probe rows per query);
    the two sides meet in a cogrouped applyInPandas keyed by cell —
    one Q·Mᵀ BLAS product per cell emits each query's within-cell
    top-k — and a final per-query window keeps the global top-k.
    Shuffle volume: corpus once by cell, queries n_probe× by cell,
    candidates k·n_probe rows per query. At 100 TB the corpus-side
    assignment is the same once-per-corpus cost the materialized IVF
    index amortizes; n_centroids scales to bound cell size exactly as
    in semantic_dedup.

    Deterministic: round-6 cosines, ties broken (cos desc, id asc)
    in both the kernel and the final window; within-cell top-k is a
    safe truncation because the global ordering refines the per-cell
    ordering. Self-matches are not excluded — filter
    ``query_id != vec_id`` downstream if the query set is drawn from
    the corpus."""
    import numpy as np
    import pandas as pd

    from mfdb_hafro_etl_spark.session import ensure_package_shipped

    ensure_package_shipped(corpus.sparkSession)

    cents = _ivf_centroids(corpus, n_centroids, id_col, vec_col)
    cents = _kmeans_refine(corpus, cents, kmeans_iters, id_col, vec_col)
    # probe-all is the graceful ceiling, matching _ivf_probes' slice
    # semantics on the single-query path
    n_probe = min(n_probe, len(cents))
    par = corpus.sparkSession.sparkContext.defaultParallelism
    assigned = _ivf_assign_table(
        corpus.repartition(par), cents, id_col, vec_col
    )

    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    C = np.array([cv for _, cv in cents], dtype=np.float64)
    c_norm = np.sqrt((C * C).sum(axis=1))

    q_src = queries.select(query_id_col, vec_col)
    qid_t = q_src.schema[query_id_col].dataType.simpleString()
    qvec_t = q_src.schema[vec_col].dataType.simpleString()
    id_t = assigned.schema[id_col].dataType.simpleString()

    def probe_gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if not len(pdf):
                continue
            V = _vec_matrix(pdf[vec_col])
            v_norm = np.sqrt((V * V).sum(axis=1))
            cos = np.round((V @ C.T) / np.outer(v_norm, c_norm), 6)
            # same decision rule as _ivf_probes: cos desc, cid asc
            order = np.lexsort((np.broadcast_to(cids, cos.shape), -cos), axis=1)
            top = order[:, :n_probe]
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col].repeat(n_probe).to_numpy(),
                    vec_col: pdf[vec_col]
                    .repeat(n_probe)
                    .reset_index(drop=True),
                    "__cid__": cids[top].reshape(-1).astype("int32"),
                }
            )

    probed = q_src.mapInPandas(
        probe_gen, schema=f"{query_id_col} {qid_t}, {vec_col} {qvec_t}, __cid__ int"
    )

    def score(key: tuple, cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cpdf) or not len(qpdf):
            return pd.DataFrame(
                {query_id_col: [], id_col: [], "cos_sim": []}
            ).astype({query_id_col: "int64", id_col: "int64", "cos_sim": "float64"})
        doc_order = np.argsort(cpdf[id_col].to_numpy(), kind="stable")
        ids = cpdf[id_col].to_numpy()[doc_order]
        M = _vec_matrix(cpdf[vec_col].iloc[doc_order])
        mn = np.sqrt((M * M).sum(axis=1))
        mn[mn == 0] = 1.0
        Q = _vec_matrix(qpdf[vec_col])
        qn = np.sqrt((Q * Q).sum(axis=1))
        qn[qn == 0] = 1.0
        S = np.round((Q @ M.T) / np.outer(qn, mn), 6)
        # within-cell top-k per query, ids ascending as tie-break
        # (ids pre-sorted, lexsort is stable on the secondary key)
        order = np.argsort(-S, axis=1, kind="stable")[:, :k]
        rows = np.repeat(np.arange(len(Q)), order.shape[1])
        cols = order.reshape(-1)
        return pd.DataFrame(
            {
                query_id_col: qpdf[query_id_col].to_numpy()[rows],
                id_col: ids[cols],
                "cos_sim": S[rows, cols],
            }
        )

    scored = (
        assigned.groupBy("__cid__")
        .cogroup(probed.groupBy("__cid__"))
        .applyInPandas(
            score, schema=f"{query_id_col} {qid_t}, {id_col} {id_t}, cos_sim double"
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


#: auto n_centroids target: rows per cluster. Within-cluster work is
#: quadratic in cluster size, so k MUST grow with the corpus: at 4096
#: rows/cluster the per-cluster S matrix is ≤ 4096² × 8 B ≈ 134 MB
#: and total compute stays ~N·4096 (linear in N).
_SEMANTIC_DEDUP_CLUSTER_ROWS = 4096


def _auto_centroids(n_rows: int) -> int:
    """k for semantic_dedup's IVF when the caller doesn't pin one:
    clusters of ~_SEMANTIC_DEDUP_CLUSTER_ROWS rows, floored at 16 so
    tiny corpora still get real bucketing.

    Capped at ceil(sqrt(N)): assignment itself costs N·k·dim FLOPs
    and ships a k×dim centroid matrix to every executor, so k growing
    as N/4096 would make ASSIGNMENT the quadratic stage past
    N = 4096² ≈ 17M rows (k > 4096 = sqrt(N) is exactly that
    crossover). Past it, k = ceil(sqrt(N)) balances assignment
    against within-cluster pair work — total compute O(N^1.5·dim),
    centroid state O(sqrt(N)·dim) (~16 MB at N = 10⁹, dim 64) —
    instead of letting either stage go quadratic."""
    if n_rows <= 1:
        return 16
    import math

    by_cluster_rows = -(-n_rows // _SEMANTIC_DEDUP_CLUSTER_ROWS)
    sqrt_cap = math.isqrt(n_rows - 1) + 1
    return max(16, min(by_cluster_rows, sqrt_cap))


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 2,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: assign every vector to
    its nearest IVF centroid, then mark as a duplicate every vector
    whose cosine to a LOWER-id vector in the SAME cluster is ≥
    ``threshold``. Returns (id, kept, dup_of) where ``dup_of`` is the
    smallest such lower id (NULL for kept rows).

    The cluster assignment turns the quadratic all-pairs problem into
    per-cluster blocks — the published SemDeDup recipe (k-means
    buckets, within-bucket cosine). Plan shape: one narrow map for
    assignment (the _ivf_assign_table kernel build_ivf_index uses),
    then a shuffle keyed by cluster, each cluster's pair block
    evaluated independently. ``n_centroids=None``
    (default) DERIVES k from a count — max(16, ceil(N/4096)) — so
    clusters stay ~4096 rows and total within-cluster work stays
    ~N·4096 (linear) at any corpus size; a FIXED k is quadratic in N
    (measured: k=16 at 100× rows = 141× wall — the suite's
    oracle-parity arm pins k and is annotated expected-superlinear
    in scale_bench.EXPECTED_SUPERLINEAR). The kernel additionally
    computes S in row chunks, so even one skewed giant cluster is
    bounded to a ~256 MB transient buffer instead of a |C|² matrix.

    Cross-cluster near-duplicates are missed by construction (the
    recall/cost tradeoff SemDeDup accepts); raise n_probe-style
    multi-assignment if recall matters more than cost.

    The within-cluster pair scan is ONE applyInPandas BLAS product
    per cluster (the cosine_pairs kernel shape, with the cluster id
    as the block key): ids sorted ascending, normalized rows,
    S = M·Mᵀ rounded to 6, and each column's first over-threshold
    strictly-upper-triangle hit IS its min lower duplicate — so the
    kernel emits the final (id, kept, dup_of) rows directly, no
    pair table, no second shuffle. Plan: assignment map →
    groupBy(__cid__) exchange → kernel. An interpreted per-pair
    zip_with/aggregate cosine inside a self-join measured ~3×
    slower at sf0.1 and is gone."""
    import numpy as np
    import pandas as pd

    from mfdb_hafro_etl_spark.session import ensure_package_shipped

    ensure_package_shipped(emb.sparkSession)

    if n_centroids is None:
        n_centroids = _auto_centroids(emb.count())

    cents = _ivf_centroids(emb, n_centroids, id_col, vec_col)
    cents = _kmeans_refine(emb, cents, kmeans_iters, id_col, vec_col)
    assigned = _ivf_assign_table(
        emb.repartition(emb.sparkSession.sparkContext.defaultParallelism),
        cents,
        id_col,
        vec_col,
    )
    id_t = assigned.schema[id_col].dataType.simpleString()
    # captured by VALUE: the worker re-imports the module, so module
    # globals there are the defaults — closure capture is what lets
    # callers/tests drive the chunking
    sims_budget = _COSINE_PAIRS_SIMS_ENTRIES

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        M = _vec_matrix(pdf[vec_col].iloc[order])
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        Mn = M / nrm
        n = len(ids)
        # chunked upper-triangle scan: for each column j, the FIRST
        # over-threshold row with i<j is the min lower duplicate.
        # Row chunks ascend, so the first chunk that hits a column
        # wins — S is never materialized whole (a skewed |C|² matrix
        # would otherwise be unbounded per task).
        chunk = max(128, sims_budget // max(n, 1))
        first_row = np.full(n, -1, dtype=np.int64)
        col_idx = np.arange(n)
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            if s >= n - 1:
                break
            C = Mn[s:e] @ Mn.T
            np.round(C, 6, out=C)
            hit = C >= threshold
            # only i<j counts (ids ascending → row index < col index
            # ⇔ id_a < id_b)
            hit &= np.arange(s, e)[:, None] < col_idx[None, :]
            hit[:, first_row >= 0] = False  # column already resolved
            any_c = hit.any(axis=0)
            if any_c.any():
                first_row[any_c] = s + hit.argmax(axis=0)[any_c]
        any_dup = first_row >= 0
        dup_of = [int(ids[f]) if f >= 0 else None for f in first_row]
        return pd.DataFrame(
            {
                id_col: ids,
                "kept": ~any_dup,
                "dup_of": pd.Series(dup_of, dtype="object"),
            }
        )

    return assigned.groupBy("__cid__").applyInPandas(
        kernel, schema=f"{id_col} {id_t}, kept boolean, dup_of {id_t}"
    )


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar int8 quantization of an embedding column: per-DIMENSION
    min/max over the corpus → affine codes in [0, 255] → per-vector
    summary (id, code_l1, max_err). 4× memory cut for ANN indexes
    (float32 → uint8) with bounded reconstruction error ≤ range/510
    per dimension.

    Scale shape: the stats pass is one posexplode + groupBy(dim) —
    output is DIMENSION-sized (64 rows), the only thing collected to
    the driver (model state, like ANN centroids). The quantize pass
    is a narrow Arrow matvec map with the (min, scale) vectors as
    closure constants — no shuffle, no join. Codes use
    floor(x + 0.5) on BOTH engines (np.round's half-to-even would
    diverge from SQL ROUND at exact .5 boundaries); constant
    dimensions (range 0) code to 0 with scale 0 and reconstruct
    exactly."""
    import numpy as np
    import pandas as pd

    from mfdb_hafro_etl_spark.session import ensure_package_shipped

    ensure_package_shipped(emb.sparkSession)

    stats = (
        emb.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("d", "v"))
        .groupBy("d")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    )
    dim = len(stats)
    lo = np.zeros(dim)
    hi = np.zeros(dim)
    for r in stats:
        lo[r["d"]] = r["lo"]
        hi[r["d"]] = r["hi"]
    scale = (hi - lo) / 255.0

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if not len(pdf):
                continue
            V = _vec_matrix(pdf[vec_col])
            with np.errstate(divide="ignore", invalid="ignore"):
                x = np.where(scale > 0, (V - lo) / np.where(scale > 0, scale, 1.0), 0.0)
            codes = np.floor(x + 0.5)
            codes = np.clip(codes, 0, 255)
            recon = lo + codes * scale
            err = np.abs(recon - V).max(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "code_l1": codes.sum(axis=1).astype("int64"),
                    "max_err": np.round(err, 6),
                }
            )

    src = emb.select(id_col, vec_col)
    id_t = src.schema[id_col].dataType.simpleString()
    return src.mapInPandas(gen, schema=f"{id_col} {id_t}, code_l1 bigint, max_err double")
