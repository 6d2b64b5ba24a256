"""LLM-training-data-pipeline extension queries (driver north-star
scope): dedup, similarity search, text analysis, multimodal plumbing,
event sessionization. Keys are prefixed x_.

Every deterministic operator carries a full DuckDB oracle that
replicates the ALGORITHM (md5-derived hashing, banding misses and
all), so the hash comparison checks the distributed implementation
against an independent single-node one. Only the mapInPandas feature
extractor (non-SQL-expressible) is registered without an oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mfdb_hafro_etl_spark.catalog import load_table
from mfdb_hafro_etl_spark.operators import dedup as dd
from mfdb_hafro_etl_spark.operators import multimodal as mm
from mfdb_hafro_etl_spark.operators import sessions as sess
from mfdb_hafro_etl_spark.operators import similarity as sim
from mfdb_hafro_etl_spark.operators import text as tx
from mfdb_hafro_etl_spark.suite import register

# Shared SQL fragment: distinct word-3-gram shingle table over documents.
_SH_SQL = """
arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(a, i, i + 2), ' ') AS shingle
       FROM arr, unnest(generate_series(1, len(a) - 2)) t(i)
       WHERE len(a) >= 3)
"""


# ----------------------------------------------------------- exact dedup
@register(
    "x_dedup_exact",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy keep smallest id."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_dedup(docs, "text", "doc_id").select("content_hash", "doc_id", "n_copies")


# --------------------------------------------------- n-gram jaccard pairs
@register(
    "x_dedup_ngram_jaccard",
    f"""
    WITH {_SH_SQL},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shd AS (
      SELECT doc_id, shingle FROM sh
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) AS jaccard
    FROM inter i JOIN sz sa ON i.id_a = sa.doc_id JOIN sz sb ON i.id_b = sb.doc_id
    WHERE ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) >= 0.6
    """,
)
def x_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise word-3-gram Jaccard ≥ 0.6 with the max_df stop-shingle
    gate (brute-force baseline; the LSH variant below is the scale
    path). The oracle replicates the gate (QUALIFY df <= 1000), so
    the comparison stays exact even when the gate trips."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.6, max_df=1000)


# ------------------------------------------------------- minhash + LSH
def _minhash_sig_cols(k: int, indent: str) -> str:
    """SQL for the k minhash aggregates — four 32-bit minhashes per
    salted md5 (8-hex slices of the digest), mirroring
    dedup._minhash_hash_cols/_minhash_min_exprs exactly: salt i//4,
    hex offset 8·(i%4)+1, min over fixed-width lowercase hex."""
    return f",\n{indent}".join(
        f"min(substr(md5('{i // 4}:' || shingle), {(i % 4) * 8 + 1}, 8)) AS h{i}"
        for i in range(k)
    )


def _minhash_ctes(
    k: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.6,
    max_bucket_df: int = 100_000,
) -> str:
    """CTE chain ending in ``pairs(id_a, id_b, jaccard)`` — shared by
    the pair query and the clustering oracle. ``max_bucket_df``
    mirrors the operator's hot-bucket gate (dedup.minhash_lsh_pairs)
    exactly — an integer COUNT(*) window, no float hazard."""
    sig_cols = _minhash_sig_cols(k, indent="           ")
    n_bands = k // rows_per_band
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {val} AS val FROM sig".format(
            b=b,
            val=" || ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(n_bands)
    )
    return f"""{_SH_SQL},
    sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands0 AS ({band_selects}),
    bands AS (
      SELECT doc_id, band, val FROM (
        SELECT doc_id, band, val,
               COUNT(*) OVER (PARTITION BY band, val) AS bdf
        FROM bands0
      ) WHERE bdf <= {max_bucket_df}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT i.id_a, i.id_b,
             ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) AS jaccard
      FROM inter i JOIN sz sa ON i.id_a = sa.doc_id JOIN sz sb ON i.id_b = sb.doc_id
      WHERE ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) >= {threshold}
    )"""


def _minhash_sql(k: int = 8, rows_per_band: int = 2, threshold: float = 0.6) -> str:
    return "WITH " + _minhash_ctes(k, rows_per_band, threshold) + "\n    SELECT id_a, id_b, jaccard FROM pairs"


@register("x_dedup_minhash_lsh", _minhash_sql())
def x_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=8) + LSH(4 bands × 2 rows) near-dup pairs, verified
    with exact jaccard ≥ 0.6. The oracle replicates the banding, so
    any probabilistic misses are identical on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, k=8, rows_per_band=2, threshold=0.6
    )


# ------------------------------------------------------------- simhash
@register(
    "x_dedup_simhash",
    """
    WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    h AS (SELECT doc_id, md5(tok) AS h FROM tok),
    bits AS (
      SELECT doc_id, j,
             ((strpos('0123456789abcdef', substr(h, CAST(floor(j / 4) AS INT) + 1, 1)) - 1)
              >> CAST(3 - (j % 4) AS INT)) & 1 AS bit
      FROM h, unnest(generate_series(0, 15)) t(j)
    ),
    bal AS (SELECT doc_id, j, SUM(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS balance
            FROM bits GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(CASE WHEN balance > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS INT) AS simhash
    FROM bal GROUP BY doc_id
    """,
)
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document (bitwise majority over
    md5(token) bits)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.simhash(docs, "doc_id", "text", bits=16).select("doc_id", "simhash")


# -------------------------------------------------- cosine top-k search
_COSINE_SQL = """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT e.vec_id,
             ROUND(
               list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
      FROM embeddings e, q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, cos_sim FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


@register("x_embed_cosine_topk", _COSINE_SQL)
def x_embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id=0 (similarity
    search baseline). The query vector is a one-row lookup collected
    to a literal — the big side never shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return sim.cosine_topk(emb, list(qvec), k=10, exclude_id=0)


# ------------------------------------------------ embedding near-dup pairs
@register(
    "x_embed_neardup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(
             list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
             (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
              sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(
             list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
             (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
              sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) >= 0.45
    """,
)
def x_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.45)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.cosine_pairs(emb, threshold=0.45)


# ------------------------------------------------------- LSH-bucketed ANN
def _ann_sql() -> str:
    planes = sim._plane_signs(4, 64)
    plane_lits = [
        "[" + ", ".join(f"{v:.1f}" for v in row) + "]::DOUBLE[]" for row in planes
    ]
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), {plane_lits[p]}) > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(4)
    )
    qbucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(q.qv, {plane_lits[p]}) > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(4)
    )
    return f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    qb AS (SELECT qv, {qbucket_expr} AS qbucket FROM q),
    s AS (
      SELECT e.vec_id,
             ROUND(
               list_dot_product(CAST(e.embedding AS DOUBLE[]), qb.qv) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(qb.qv, qb.qv))), 6) AS cos_sim
      FROM embeddings e, qb
      WHERE e.vec_id <> 0 AND ({bucket_expr}) = qb.qbucket
    )
    SELECT vec_id, cos_sim FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10
    """


@register("x_ann_lsh_topk", _ann_sql())
def x_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via random-hyperplane LSH buckets (the
    scale path: per-query scan shrinks 2^planes-fold; planes are
    md5-derived constants so the oracle replicates them exactly)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return sim.ann_lsh_topk(emb, list(qvec), k=10, n_planes=4, exclude_id=0)


# ----------------------------------------------------------- text stats
@register(
    "x_text_stats",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(length(tok)) AS DOUBLE) / COUNT(*), 6) AS mean_token_len,
           ROUND(CAST(SUM(CASE WHEN tok IN ('the','a','of','and','is','to','in') THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS stop_ratio
    FROM tok GROUP BY doc_id
    """,
)
def x_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality inputs per document (whitespace
    tokenizer; pure Column algebra)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count("text").cast("long").alias("n_tokens"),
        F.round(tx.mean_token_len("text"), 6).alias("mean_token_len"),
        F.round(tx.stopword_ratio("text"), 6).alias("stop_ratio"),
    )


# ------------------------------------------------------------- lang id
@register(
    "x_text_langid",
    """
    WITH scored AS (
      SELECT doc_id,
             len(list_filter(string_split(text,' '), t -> list_contains(['the','a','of','and','is'], t))) AS s_en,
             len(list_filter(string_split(text,' '), t -> list_contains(['el','la','de','y','es'], t))) AS s_es,
             len(list_filter(string_split(text,' '), t -> list_contains(['der','die','das','und','ist'], t))) AS s_de,
             len(list_filter(string_split(text,' '), t -> list_contains(['le','la','de','et','est'], t))) AS s_fr
      FROM documents
    )
    SELECT doc_id,
           CASE
             WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
             WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
             WHEN s_en >= s_de AND s_en > 0 THEN 'en'
             WHEN s_de > 0 THEN 'de'
             ELSE 'und'
           END AS lang_guess
    FROM scored
    """,
)
def x_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language-ID heuristic; ties resolved to the
    lexicographically greatest language code (struct-max semantics,
    replicated in the oracle's CASE ordering)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.lang_guess("text").alias("lang_guess"))


# --------------------------------------------------------- fingerprint
@register(
    "x_text_fingerprint",
    """
    WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents)
    SELECT doc_id,
           md5(string_agg(md5(a[i]), '' ORDER BY i)) AS fingerprint
    FROM arr, unnest(generate_series(1, len(a))) t(i)
    GROUP BY doc_id
    """,
)
def x_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling document fingerprint (md5 over
    concatenated per-token md5s)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.fingerprint("text").alias("fingerprint"))


# --------------------------------------------------------- sessionize
@register(
    "x_events_sessionize",
    """
    WITH lagged AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    starts AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR (epoch_us(ts) / 1000000.0 - epoch_us(prev_ts) / 1000000.0) > 1800.0
                     THEN 1 ELSE 0 END AS is_start
      FROM lagged
    ),
    sess AS (
      SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM starts
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           COUNT(*) AS n_events,
           ROUND(MAX(epoch_us(ts) / 1000000.0) - MIN(epoch_us(ts) / 1000000.0), 3) AS duration_s
    FROM sess GROUP BY 1, 2
    """,
)
def x_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) + per-session stats —
    the batch twin of the streaming sessionizer."""
    ev = load_table(spark, sf_dir, "events")
    return sess.session_stats(ev, gap_minutes=30.0)


# ----------------------------------------------------- tumbling window
@register(
    "x_events_tumbling",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def x_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window aggregate per event type."""
    ev = load_table(spark, sf_dir, "events")
    return sess.tumbling_window_agg(ev, window="1 hour")


# ----------------------------------------------------- multimodal meta
@register(
    "x_multimodal_meta",
    """
    SELECT doc_id AS media_id,
           'application/octet-stream' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256
    FROM documents
    """,
)
def x_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media-column plumbing: payload + typed metadata
    (mime, byte length, content hash) computed JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.attach_binary(docs, "doc_id", "text")
    return media.select(
        "media_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha256").alias("sha256"),
    )


# ------------------------------------------------ multimodal features
@register(
    "x_multimodal_features",
    """
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(i AS INT) AS pos,
           ROUND(CAST(concat('0x', substr(sha256(text), 8 * i + 1, 8)) AS BIGINT)
                 / 4294967296.0, 6) AS feature
    FROM documents, unnest(generate_series(0, 7)) t(i)
    """,
)
def x_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary
    payloads. The fake kernel's sha256-derived floats are
    reproducible in SQL, so the features are value-verified
    position-by-position (posexplode → scalar doubles; the real PNG
    pixel kernel is exercised by tests/test_multimodal.py)."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.attach_binary(docs, "doc_id", "text")
    f = mm.extract_features(media, mode="fake")
    return f.select(
        "media_id",
        "n_bytes",
        F.posexplode("features").alias("pos", "feature"),
    ).select("media_id", "n_bytes", "pos", F.round("feature", 6).alias("feature"))


# ---------------------------------------------------------- IVF ANN top-k
@register(
    "x_ann_ivf_topk",
    """
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
    cent AS (SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 16),
    assign AS (
      SELECT e.vec_id, e.v,
        (SELECT c.cid FROM cent c
         ORDER BY ROUND(list_dot_product(e.v, c.cv) /
                        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                  c.cid
         LIMIT 1) AS cid
      FROM emb e
    ),
    probes AS (
      SELECT c.cid FROM cent c, q
      ORDER BY ROUND(list_dot_product(q.qv, c.cv) /
                     (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
               c.cid
      LIMIT 4
    )
    SELECT a.vec_id,
           ROUND(list_dot_product(a.v, q.qv) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
    FROM assign a, q
    WHERE a.cid IN (SELECT cid FROM probes) AND a.vec_id <> 0
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def x_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 against the MATERIALIZED index
    (build_ivf_index): vectors written once partitioned by cluster
    id, the query probes its 4 nearest clusters as a partition-pruned
    scan (PartitionFilters on __cid__, 4 of 16 partitions read —
    pinned by tests/test_plan_quality.py). Identical semantics to the
    index-free one-shot variant, so the oracle is unchanged."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    tok = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join("/tmp/mfdb_suite", f"ivf_index_{tok}")
    # explicit kmeans_iters=0: the DuckDB oracle mirrors the seed
    # (lowest-id) centroids; refinement is the production default
    sim.build_ivf_index(emb, path, n_centroids=16, kmeans_iters=0)
    return sim.ann_ivf_topk_indexed(
        spark, path, [float(x) for x in qvec], k=10, n_probe=4, exclude_id=0
    )


# ----------------------------------------------------- bulk kNN join
@register(
    "x_ann_knn_join",
    """
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 16),
    q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id BETWEEN 100 AND 104),
    assign AS (
      SELECT e.vec_id, e.v,
        (SELECT c.cid FROM cent c
         ORDER BY ROUND(list_dot_product(e.v, c.cv) /
                        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                  c.cid
         LIMIT 1) AS cid
      FROM emb e
    ),
    qprobe AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.qv, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND(list_dot_product(q.qv, c.cv) /
                                (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                          c.cid) AS rn
        FROM q, cent c)
      WHERE rn <= 4
    ),
    scored AS (
      SELECT p.query_id, a.vec_id,
             ROUND(list_dot_product(p.qv, a.v) /
                   (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))), 6) AS cos_sim
      FROM qprobe p JOIN assign a ON a.cid = p.cid
    )
    SELECT query_id, vec_id, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored)
    WHERE rn <= 5
    """,
)
def x_ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk approximate kNN join: five query vectors resolved against
    the whole corpus in ONE job — IVF cell co-partitioning, a
    cogrouped-Pandas BLAS product per cell, global per-query top-k
    window. The oracle replicates cell assignment, probe selection,
    and scoring exactly (same round-6 cosines, same tie-breaks)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").between(100, 104)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # kmeans_iters=0 pins seed centroids for oracle parity
    return sim.knn_join(emb, queries, k=5, n_centroids=16, n_probe=4, kmeans_iters=0)


# ------------------------------------------- multimodal decode + resize
@register(
    "x_multimodal_decode_meta",
    """
    SELECT doc_id AS media_id,
           CAST(CAST(concat('0x', substr(sha256(text), 1, 4)) AS INT) % 1024 + 16 AS INT) AS width,
           CAST(CAST(concat('0x', substr(sha256(text), 5, 4)) AS INT) % 1024 + 16 AS INT) AS height,
           3 AS channels
    FROM documents
    """,
)
def x_multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-header decode plumbing (Arrow mapInPandas). The fake
    kernel derives dimensions from the payload sha256, which makes a
    Python media kernel ORACLE-VERIFIABLE: DuckDB reproduces the
    same hex arithmetic, so the hash gate covers the whole
    attach→batch→decode path, not just the schema."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.attach_binary(docs, "doc_id", "text")
    return mm.decode_media_meta(media, mode="fake")


@register(
    "x_multimodal_resize",
    """
    SELECT doc_id AS media_id, 16 AS width, 16 AS height,
           CAST(768 AS BIGINT) AS n_bytes,
           sha256(rpad(substr(hex(encode(text)), 1, 1536), 1536, '0')) AS sha256
    FROM documents
    """,
)
def x_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-kernel plumbing: every payload becomes a fixed
    16x16x3 buffer (truncate-or-pad stub with a real resize's memory
    profile; the real PNG pixel path is covered by
    tests/test_multimodal.py with encoded payloads). The oracle
    rebuilds the exact buffer bytes with hex-string truncate+pad and
    compares hashes of the (uppercase) hex rendering — DuckDB's
    sha256 takes VARCHAR only, and hex() is uppercase in both
    engines, so the binary output is value-verified byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.attach_binary(docs, "doc_id", "text")
    out = mm.resize_media(media, width=16, height=16, mode="fake")
    return out.select(
        "media_id", "width", "height", "n_bytes",
        F.sha2(F.hex(F.col("content")), 256).alias("sha256"),
    )


@register(
    "x_multimodal_frames",
    """
    SELECT doc_id AS media_id, CAST(o AS BIGINT) AS byte_offset
    FROM (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
         unnest(generate_series(0, CAST(greatest(n - 1, 0) AS BIGINT), 1024)) t(o)
    """,
)
def x_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: one (media_id, byte_offset) row
    per sample point — the Spark-side planning of a frame-extraction
    job (pure Column sequence+explode; the decode of the sampled
    frame is the multimodal kernel's job)."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.attach_binary(docs, "doc_id", "text")
    return mm.frame_sample_plan(media, every_n_bytes=1024)


# ----------------------------------------- real JPEG entropy pipeline
@register(
    "x_multimodal_jpeg",
    """
    WITH dims AS (
      SELECT doc_id, CAST(doc_id % 4 + 1 AS INT) AS bw,
             CAST((doc_id // 4) % 4 + 1 AS INT) AS bh
      FROM documents
    ),
    blocks AS (
      SELECT doc_id, bw, bh, CAST((doc_id * 31 + i * 7) % 256 AS DOUBLE) AS g
      FROM dims, unnest(generate_series(0, CAST(bw * bh - 1 AS BIGINT))) t(i)
    )
    SELECT doc_id AS media_id, CAST(8 * bw AS INT) AS width,
           CAST(8 * bh AS INT) AS height, 1 AS channels,
           FLOOR(AVG(g) * 1000000.0 + 0.5) / 1000000.0 AS mean_px
    FROM blocks GROUP BY doc_id, bw, bh
    """,
)
def x_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG pixel decode, value-verified end-to-end: each doc
    becomes a grayscale image of doc_id-derived flat 8x8 blocks,
    encoded to a baseline JPEG with an all-ones quantization table
    (flat blocks are DC-only with integer coefficients, so the
    stream round-trips EXACTLY — jpegcodec module docstring), then
    decoded back through the REAL Huffman+IDCT path
    (imagecodec.decode_pixels) by decode_image_stats. The oracle
    derives width/height/mean analytically from doc_id, so any bit
    error anywhere in marker layout, Huffman coding, zigzag,
    dequantize, or IDCT fails the hash. Per-image cost is ~0.5 ms
    inside an Arrow batch — at 100 TB this is the same
    embarrassingly parallel map-only shape as any decode filter."""
    import numpy as np

    from mfdb_hafro_etl_spark.operators import jpegcodec as jc
    from mfdb_hafro_etl_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    from mfdb_hafro_etl_spark.session import spread_for_kernel

    # codec CPU is ~10³× scan CPU: fan the id list out to the cluster
    # BEFORE the encode kernel or a single-file documents table runs
    # the whole codec chain on one core (see spread_for_kernel)
    docs = spread_for_kernel(
        load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long").alias("media_id")
        )
    )

    def build(batches):
        import pandas as pd

        ones = (np.ones(64, dtype=np.int64), np.ones(64, dtype=np.int64))
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                bw, bh = mid % 4 + 1, (mid // 4) % 4 + 1
                img = np.zeros((8 * bh, 8 * bw), dtype=np.uint8)
                for i in range(bw * bh):
                    img[
                        (i // bw) * 8 : (i // bw) * 8 + 8,
                        (i % bw) * 8 : (i % bw) * 8 + 8,
                    ] = (mid * 31 + i * 7) % 256
                payloads.append(jc.encode_jpeg(img, quant_tables=ones))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": payloads}
            )

    media = docs.mapInPandas(
        build,
        schema="media_id long, content binary",
    )
    return mm.decode_image_stats(media)


# ------------------------------------------- image pHash near-dup
@register(
    "x_image_phash",
    """
    WITH ct AS (
      SELECT u, x,
             CAST(floor(cos(pi()*(2*x+1)*u/64.0)*16384 + 0.5) AS BIGINT) AS c
      FROM generate_series(0,7) t(u), generate_series(0,31) s(x)
    ),
    bsum AS (SELECT u, x // 4 AS blk, SUM(c) AS s FROM ct GROUP BY u, x // 4),
    blocks AS (
      SELECT doc_id, i,
             CAST((CAST(concat('0x',
                     substr(md5(CAST(doc_id // 4 AS VARCHAR) || ':'
                                || CAST(i // 16 AS VARCHAR)),
                            (i % 16)*2+1, 2))
                   AS INT)
                   + CASE WHEN i = 63 THEN doc_id % 4 ELSE 0 END) % 256
                  AS BIGINT) AS g
      FROM documents, unnest(generate_series(0, 63)) t(i)
    ),
    dct AS (
      SELECT b.doc_id, r.u AS u, c2.u AS v, SUM(b.g * r.s * c2.s) AS d
      FROM blocks b
      JOIN bsum r  ON r.blk  = b.i // 8
      JOIN bsum c2 ON c2.blk = b.i % 8
      GROUP BY b.doc_id, r.u, c2.u
    ),
    med AS (
      SELECT doc_id, d AS m FROM (
        SELECT doc_id, d,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY d) AS rn
        FROM dct) WHERE rn = 32
    ),
    hashes AS (
      SELECT doc_id,
             CAST(CASE WHEN hh >= 9223372036854775808::HUGEINT
                       THEN hh - 18446744073709551616::HUGEINT
                       ELSE hh END AS BIGINT) AS ph
      FROM (SELECT dct.doc_id,
                   SUM(CASE WHEN d > m THEN (1::HUGEINT << (u*8+v))
                            ELSE 0::HUGEINT END) AS hh
            FROM dct JOIN med USING (doc_id) GROUP BY dct.doc_id)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ph, b.ph)) <= 7
    """,
)
def x_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs via perceptual hash, value-verified
    END-TO-END through the real codec: each doc becomes a 64×64
    grayscale image of flat 8×8 blocks whose 64 values derive from
    doc_id — four docs per group (gid = doc_id // 4) share a base
    pattern whose block values are md5(gid:quarter) digest bytes,
    and differ only in one corner block by 0-3 gray levels. The
    8×8 block GRID matters as much as the pseudorandom values: the
    pooled 32×32 image's DCT is B·G·Bᵀ for the block-value matrix G,
    so a 4×4 grid (rank-4 DCT) or any linear-in-i pattern collapses
    the hash's entropy and cross-group pairs explode quadratically
    (measured: 27k hamming-0 pairs from 500 docs for linear
    patterns, 9.7 pairs/doc and rising for rank-4 random ones);
    the full-rank 8×8 grid keeps the pair count linear in docs —
    the shape a bench arm must have to survive ×100.
    Images are encoded to an exactly-round-tripping baseline
    JPEG (all-ones quant, as x_multimodal_jpeg), decoded back through
    the REAL Huffman+IDCT path, hashed with the fixed-point-DCT pHash
    (operators/imagehash.py:phash64 — integer-exact by contract,
    which is what lets DuckDB mirror the hash bit-for-bit from the
    analytic block values), then paired by Hamming-banded self-join
    (hamming_neardup_pairs — 8 exact-match bands; max_distance 7 < 8
    bands makes banding recall COMPLETE by pigeonhole, so the banded
    plan is bit-identical to the oracle's quadratic scan). Any bit
    error in JPEG round-trip, pooling, the DCT table, median rank,
    bit packing, banding, or popcount fails the hash gate."""
    import numpy as np

    from mfdb_hafro_etl_spark.operators import imagehash as ih
    from mfdb_hafro_etl_spark.operators import jpegcodec as jc
    from mfdb_hafro_etl_spark.session import ensure_package_shipped, spread_for_kernel

    ensure_package_shipped(spark)
    docs = spread_for_kernel(
        load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long").alias("media_id")
        )
    )

    def build(batches):
        import pandas as pd

        import hashlib

        ones = (np.ones(64, dtype=np.int64), np.ones(64, dtype=np.int64))
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                gid = mid // 4
                digests = [
                    hashlib.md5(f"{gid}:{q}".encode()).hexdigest()
                    for q in range(4)
                ]
                img = np.zeros((64, 64), dtype=np.uint8)
                for i in range(64):
                    j = i % 16
                    g = int(digests[i // 16][j * 2 : j * 2 + 2], 16)
                    if i == 63:
                        g = (g + mid % 4) % 256
                    img[
                        (i // 8) * 8 : (i // 8) * 8 + 8,
                        (i % 8) * 8 : (i % 8) * 8 + 8,
                    ] = g
                payloads.append(jc.encode_jpeg(img, quant_tables=ones))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": payloads}
            )

    media = docs.mapInPandas(build, schema="media_id long, content binary")
    hashes = ih.image_phash(media)
    return ih.hamming_neardup_pairs(
        hashes, "media_id", "phash", max_distance=7, n_bands=8
    )


# PNG header payloads built in pure Column algebra: doc_id-derived
# dimensions and color type packed into a byte-exact IHDR via
# to_binary(hex). The Spark side then PARSES the bytes back with the
# real header decoder, while the oracle derives the same values
# analytically from doc_id — two independent computation paths meeting
# at the hash gate.
_PNG_CT = [0, 2, 3, 4, 6]  # color types: gray, rgb, palette, gray+a, rgba
_PNG_CT_CH = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_header_payload() -> F.Column:
    w = F.col("doc_id") % 1024 + 16
    h = (F.col("doc_id") * 7) % 1024 + 16
    ct = F.element_at(
        F.array(*[F.lit(c) for c in _PNG_CT]), (F.col("doc_id") % 5 + 1).cast("int")
    )
    hexstr = F.concat(
        F.lit("89504E470D0A1A0A"),  # signature
        F.lit("0000000D"),  # IHDR length = 13
        F.lit("49484452"),  # "IHDR"
        F.lpad(F.hex(w), 8, "0"),
        F.lpad(F.hex(h), 8, "0"),
        F.lit("08"),  # bit depth 8
        F.lpad(F.hex(ct), 2, "0"),
        F.lit("000000"),  # compression, filter, interlace
        F.lit("00000000"),  # CRC placeholder (header parse doesn't check)
    )
    return F.to_binary(hexstr, F.lit("hex"))


def _le_hex(col: F.Column, nbytes: int) -> F.Column:
    """Little-endian hex rendering of an integer Column (RIFF/WAVE
    headers are LE; hex() is BE, so reverse the byte pairs)."""
    be = F.lpad(F.hex(col), 2 * nbytes, "0")
    return F.concat(*[F.substring(be, 2 * i + 1, 2) for i in reversed(range(nbytes))])


# sample rates restricted to divisors of 10^6 so n_frames/rate always
# terminates WITHIN 6 decimals — round(x, 6) then has no halfway case
# for either engine (Python rounds half-even, DuckDB half-away; they'd
# disagree on exact .xxxxxx5 values like 118/32000)
_WAV_RATES = [8000, 10000, 20000, 25000, 40000]


def _wav_header_payload() -> F.Column:
    ch = (F.col("doc_id") % 2 + 1).cast("bigint")
    rate = F.element_at(
        F.array(*[F.lit(r) for r in _WAV_RATES]), (F.col("doc_id") % 5 + 1).cast("int")
    ).cast("bigint")
    n_frames = (F.col("doc_id") % 10000 + 100).cast("bigint")
    block = ch * 2  # PCM16
    data_size = n_frames * block
    hexstr = F.concat(
        F.lit("52494646"),  # "RIFF"
        _le_hex(F.lit(36).cast("bigint") + data_size, 4),
        F.lit("57415645"),  # "WAVE"
        F.lit("666D7420"),  # "fmt "
        F.lit("10000000"),  # fmt chunk size 16 (LE)
        F.lit("0100"),  # audio format 1 = PCM (LE)
        _le_hex(ch, 2),
        _le_hex(rate, 4),
        _le_hex(rate * block, 4),  # byte rate
        _le_hex(block, 2),
        F.lit("1000"),  # bits = 16 (LE)
        F.lit("64617461"),  # "data"
        _le_hex(data_size, 4),
    )
    return F.to_binary(hexstr, F.lit("hex"))


@register(
    "x_multimodal_audio",
    """
    SELECT doc_id AS media_id,
           CAST(doc_id % 2 + 1 AS INT) AS channels,
           CAST(([8000, 10000, 20000, 25000, 40000])[1 + CAST(doc_id % 5 AS INT)] AS INT)
             AS sample_rate,
           16 AS bits,
           CAST(doc_id % 10000 + 100 AS BIGINT) AS n_frames,
           ROUND(CAST(doc_id % 10000 + 100 AS DOUBLE)
                 / ([8000, 10000, 20000, 25000, 40000])[1 + CAST(doc_id % 5 AS INT)], 6)
             AS duration_s
    FROM documents
    """,
)
def x_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-container decode: byte-exact RIFF/WAVE headers are
    built JVM-side (little-endian hex packing) and
    decode_audio_meta (mode='real', audiocodec.parse_wav_header)
    walks the chunks back out — channels, sample rate, bit depth,
    frame count, duration. The oracle derives every field from
    doc_id analytically, so a misread byte order or chunk offset
    fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("long").alias("media_id"),
        _wav_header_payload().alias("content"),
    )
    return mm.decode_audio_meta(media, mode="real")


def _tar_header(name_col: F.Column, size_col: F.Column) -> F.Column:
    """One byte-exact ustar header as a 512-char string (ascii +
    NUL padding — encode() turns it into the on-disk bytes). The
    checksum field is spaces: the enumeration fast path doesn't
    validate it, like real shard indexers."""
    oct11 = F.lpad(F.conv(size_col.cast("string"), 10, 8), 11, "0")
    return F.rpad(
        F.concat(
            F.rpad(name_col, 100, "\x00"),
            F.rpad(F.lit("0000644"), 8, "\x00"),
            F.rpad(F.lit("0000000"), 8, "\x00"),
            F.rpad(F.lit("0000000"), 8, "\x00"),
            F.concat(oct11, F.lit("\x00")),
            F.rpad(F.lit("00000000000"), 12, "\x00"),
            F.lit("        "),  # chksum: 8 spaces
            F.lit("0"),  # typeflag: regular file
            F.rpad(F.lit(""), 100, "\x00"),  # linkname
            F.lit("ustar\x00" + "00"),  # magic + version
        ),
        512,
        "\x00",
    )


# member payload padded to the 512-byte block grid (SQL expr because
# pyspark's rpad takes only a literal length)
_TAR_DATA = "rpad(repeat('x', {s}), cast(ceil({s} / 512.0) * 512 as int), chr(0))"


@register(
    "x_multimodal_tar",
    """
    WITH sized AS (
      SELECT doc_id, doc_id % 900 + 10 AS s1, doc_id % 300 + 5 AS s2
      FROM documents
    )
    SELECT doc_id AS media_id, concat('d', CAST(doc_id AS VARCHAR), '.txt') AS name,
           CAST(512 AS BIGINT) AS "offset", CAST(s1 AS BIGINT) AS size
    FROM sized
    UNION ALL
    SELECT doc_id, concat('d', CAST(doc_id AS VARCHAR), '.json'),
           CAST(1024 + 512 * CAST(CEIL(s1 / 512.0) AS BIGINT) AS BIGINT),
           CAST(s2 AS BIGINT)
    FROM sized
    """,
)
def x_multimodal_tar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style tar shard enumeration: each document becomes
    a two-member ustar shard ({id}.txt + {id}.json) built byte-exact
    in Column algebra, and enumerate_tar_members walks the 512-byte
    headers back out — names, data offsets, sizes. The oracle derives
    the expected member table analytically (offset arithmetic over
    the block grid), so a misread octal size or block rounding error
    fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        F.col("doc_id").cast("long").alias("media_id"),
        (F.col("doc_id") % 900 + 10).alias("s1"),
        (F.col("doc_id") % 300 + 5).alias("s2"),
    )
    shard = F.concat(
        _tar_header(
            F.concat(F.lit("d"), F.col("media_id").cast("string"), F.lit(".txt")),
            F.col("s1"),
        ),
        F.expr(_TAR_DATA.format(s="s1")),
        _tar_header(
            F.concat(F.lit("d"), F.col("media_id").cast("string"), F.lit(".json")),
            F.col("s2"),
        ),
        F.expr(_TAR_DATA.format(s="s2")),
        F.rpad(F.lit(""), 1024, "\x00"),  # end-of-archive blocks
    )
    media = sized.select("media_id", F.encode(shard, "UTF-8").alias("content"))
    return mm.enumerate_tar_members(media)


_MP4_TIMESCALES = [1000, 10000, 25000, 40000, 50000]  # divisors of 1e6

_MP4_UNITY_MATRIX = (
    "00010000" "00000000" "00000000"
    "00000000" "00010000" "00000000"
    "00000000" "00000000" "40000000"
)


def _mp4_header_payload() -> F.Column:
    """Byte-exact ISO BMFF skeleton: ftyp + moov(mvhd + trak(tkhd)).
    All fields big-endian, so plain lpad(hex(...)) packs them."""
    w = F.col("doc_id") % 1920 + 16
    h = (F.col("doc_id") * 3) % 1080 + 16
    ts = F.element_at(
        F.array(*[F.lit(t) for t in _MP4_TIMESCALES]),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    dur = F.col("doc_id") % 100000 + 1000
    be4 = lambda c: F.lpad(F.hex(c), 8, "0")
    mvhd = F.concat(
        F.lit("0000006C" "6D766864" "00000000" "00000000" "00000000"),
        be4(ts),
        be4(dur),
        F.lit("00010000" "0100" + "0" * 20 + _MP4_UNITY_MATRIX + "0" * 48 + "00000002"),
    )
    tkhd = F.concat(
        F.lit("0000005C" "746B6864" "00000007" "00000000" "00000000"
              "00000001" "00000000"),
        be4(dur),
        F.lit("0" * 16 + "0000" "0000" "0000" "0000" + _MP4_UNITY_MATRIX),
        F.lpad(F.hex(w), 4, "0"), F.lit("0000"),  # 16.16 fixed point
        F.lpad(F.hex(h), 4, "0"), F.lit("0000"),
    )
    hexstr = F.concat(
        F.lit("00000010" "66747970" "69736F6D" "00000000"),  # ftyp
        F.lit("000000D8" "6D6F6F76"),  # moov size 216
        mvhd,
        F.lit("00000064" "7472616B"),  # trak size 100
        tkhd,
    )
    return F.to_binary(hexstr, F.lit("hex"))


@register(
    "x_multimodal_video",
    """
    SELECT doc_id AS media_id,
           CAST(doc_id % 1920 + 16 AS INT) AS width,
           CAST((doc_id * 3) % 1080 + 16 AS INT) AS height,
           CAST(([1000, 10000, 25000, 40000, 50000])[1 + CAST(doc_id % 5 AS INT)] AS INT)
             AS timescale,
           CAST(doc_id % 100000 + 1000 AS BIGINT) AS duration,
           ROUND(CAST(doc_id % 100000 + 1000 AS DOUBLE)
                 / ([1000, 10000, 25000, 40000, 50000])[1 + CAST(doc_id % 5 AS INT)], 6)
             AS duration_s
    FROM documents
    """,
)
def x_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode: byte-exact MP4 box trees
    (ftyp + moov/mvhd + trak/tkhd) built JVM-side in Column algebra,
    walked back out by imagecodec.parse_mp4_header — width/height
    from the 16.16 fixed-point tkhd fields, duration from
    mvhd timescale units. The oracle derives every field from doc_id
    analytically (timescales restricted to divisors of 1e6, same
    round-6 halfway discipline as the audio arm). Frame DECODE
    genuinely needs a codec and remains out of scope; the sampling
    plan is x_multimodal_frames."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("long").alias("media_id"),
        _mp4_header_payload().alias("content"),
    )
    return mm.decode_video_meta(media, mode="real")


@register(
    "x_multimodal_real_meta",
    """
    SELECT doc_id AS media_id,
           CAST(doc_id % 1024 + 16 AS INT) AS width,
           CAST((doc_id * 7) % 1024 + 16 AS INT) AS height,
           CAST(CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 1
                                WHEN 3 THEN 2 ELSE 4 END AS INT) AS channels
    FROM documents
    """,
)
def x_multimodal_real_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-header decode: byte-exact PNG IHDR payloads are
    built JVM-side (to_binary hex packing), and decode_media_meta
    (mode='real', imagecodec.parse_header) parses width / height /
    channels back out of the binary. The oracle computes the expected
    dimensions directly from doc_id, so a parse that misreads any
    byte fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("long").alias("media_id"),
        _png_header_payload().alias("content"),
    )
    return mm.decode_media_meta(media, mode="real")


# ------------------------------------------- ngram lang-ID + winnowing
@register(
    "x_text_langid_ngram",
    """
    WITH scored AS (
      SELECT doc_id,
        (length(text) - length(replace(text, 'the', ''))) / 3.0
        + (length(text) - length(replace(text, ' th', ''))) / 3.0
        + (length(text) - length(replace(text, 'ing', ''))) / 3.0
        + (length(text) - length(replace(text, 'and', ''))) / 3.0
        + (length(text) - length(replace(text, ' of', ''))) / 3.0 AS s_en,
        (length(text) - length(replace(text, ' de', ''))) / 3.0
        + (length(text) - length(replace(text, 'os ', ''))) / 3.0
        + (length(text) - length(replace(text, ' la', ''))) / 3.0
        + (length(text) - length(replace(text, 'ión', ''))) / 3.0
        + (length(text) - length(replace(text, ' el', ''))) / 3.0 AS s_es,
        (length(text) - length(replace(text, 'der', ''))) / 3.0
        + (length(text) - length(replace(text, 'sch', ''))) / 3.0
        + (length(text) - length(replace(text, 'ein', ''))) / 3.0
        + (length(text) - length(replace(text, 'und', ''))) / 3.0
        + (length(text) - length(replace(text, 'ich', ''))) / 3.0 AS s_de,
        (length(text) - length(replace(text, ' le', ''))) / 3.0
        + (length(text) - length(replace(text, 'les', ''))) / 3.0
        + (length(text) - length(replace(text, 'ent', ''))) / 3.0
        + (length(text) - length(replace(text, ' de', ''))) / 3.0
        + (length(text) - length(replace(text, 'que', ''))) / 3.0 AS s_fr
      FROM documents
    )
    SELECT doc_id,
           CASE
             WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
             WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
             WHEN s_en >= s_de AND s_en > 0 THEN 'en'
             WHEN s_de > 0 THEN 'de'
             ELSE 'und'
           END AS lang_guess
    FROM scored
    """,
)
def x_text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language ID (the brief's n-gram heuristic,
    beside the stopword variant): marker-trigram occurrence counts
    via the length/replace identity — one codegen'd projection, no
    explode, no UDF. Ties resolve to the greatest language code on
    both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.lang_guess_ngram("text").alias("lang_guess"))


@register(
    "x_text_winnow",
    """
    WITH g AS (
      SELECT doc_id, text, length(text) - 4 AS ng FROM documents
    ),
    h AS (
      SELECT doc_id,
        CASE WHEN ng >= 1 THEN
          list_transform(generate_series(1, ng),
            i -> CAST(concat('0x', substr(md5(substr(text, CAST(i AS INT), 5)), 1, 8)) AS BIGINT))
        ELSE [] END AS hashes
      FROM g
    ),
    m AS (
      SELECT doc_id,
        CASE WHEN len(hashes) - 3 >= 1 THEN
          list_transform(generate_series(1, len(hashes) - 3),
            i -> list_min(list_slice(hashes, CAST(i AS INT), CAST(i + 3 AS INT))))
        WHEN len(hashes) > 0 THEN [list_min(hashes)]
        ELSE [] END AS mins
      FROM h
    )
    SELECT doc_id, UNNEST(list_sort(list_distinct(mins))) AS fp
    FROM m
    """,
)
def x_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS): min-hash of every 4-window over
    char-5-gram hashes; any shared substring of length >= 8 between
    two docs shares a fingerprint. Pure array algebra, exploded to
    (doc_id, fp) rows for engine-portable hashing."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.winnow_fingerprint_table(
        dd._spread_by_id(docs.select("doc_id", "text"), "doc_id"), "doc_id", "text", k=5, window=4
    )


@register(
    "x_dedup_winnow",
    """
    WITH g AS (
      SELECT doc_id, text, length(text) - 4 AS ng FROM documents
    ),
    h AS (
      SELECT doc_id,
        CASE WHEN ng >= 1 THEN
          list_transform(generate_series(1, ng),
            i -> CAST(concat('0x', substr(md5(substr(text, CAST(i AS INT), 5)), 1, 8)) AS BIGINT))
        ELSE [] END AS hashes
      FROM g
    ),
    m AS (
      SELECT doc_id,
        CASE WHEN len(hashes) - 3 >= 1 THEN
          list_transform(generate_series(1, len(hashes) - 3),
            i -> list_min(list_slice(hashes, CAST(i AS INT), CAST(i + 3 AS INT))))
        WHEN len(hashes) > 0 THEN [list_min(hashes)]
        ELSE [] END AS mins
      FROM h
    ),
    fps_all AS (SELECT doc_id, UNNEST(list_distinct(mins)) AS fp FROM m),
    fps AS (
      SELECT doc_id, fp FROM fps_all
      QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 20
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    """,
)
def x_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup pairs: substring-level overlap detection
    on the ~2/(w+1)-density fingerprint index — the MOSS-semantics
    complement to MinHash's whole-doc similarity. Stop-fingerprint
    gate max_df=20 keeps boilerplate fingerprints out of the
    self-join (the quadratic hot-key hazard)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.winnow_pairs(docs, "doc_id", "text", k=5, window=4, min_shared=3)


@register(
    "x_text_quality",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             regexp_split_to_array(trim(regexp_replace(text, '([^\\s A-Za-z0-9]+)', ' \\1 ', 'g')), '\\s+') AS bpe
      FROM documents
    ),
    stats AS (
      SELECT doc_id,
        len(toks) AS n_tokens,
        len(list_filter(bpe, p -> p <> '')) AS n_bpe,
        CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
          / greatest(len(toks), 1) AS mlen,
        CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to','in'], t))) AS DOUBLE)
          / greatest(len(toks), 1) AS sw
      FROM tok
    )
    SELECT doc_id, n_tokens, n_bpe,
      ROUND(LEAST(1.0,
        (sw * 2
         + (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
         + (CASE WHEN mlen BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END)) / 3), 6) AS quality
    FROM stats
    """,
)
def x_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (C4/Gopher-shaped: stopword ratio +
    length gates) and the BPE-ish sub-word token count, one codegen'd
    projection per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count("text").cast("long").alias("n_tokens"),
        tx.token_count_bpe("text").cast("long").alias("n_bpe"),
        tx.quality_score("text").alias("quality"),
    )


# ------------------------------------------------- duplicate clusters
@register(
    "x_dedup_clusters",
    "WITH RECURSIVE " + _minhash_ctes() + """,
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, MIN(lab) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def x_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters = connected components over the MinHash-LSH
    pair graph (min-label propagation; cluster_id = smallest member
    id, the canonical doc a dedup pipeline keeps). The oracle walks
    the same graph with a recursive CTE — an iterative Spark
    algorithm still hash-verified exactly."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, k=8, rows_per_band=2, threshold=0.6
    )
    return dd.duplicate_clusters(pairs)


# ------------------------------------------ deterministic split/sample
@register(
    "x_sample_hash_split",
    """
    WITH u AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5('v1' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               / CAST(16 ** 15 AS DOUBLE) AS unit
      FROM documents
    ),
    assigned AS (
      SELECT doc_id,
             CASE WHEN unit < 0.8 THEN 'train'
                  WHEN unit < 0.9 THEN 'valid'
                  ELSE 'test' END AS split
      FROM u
    )
    SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM assigned GROUP BY split
    """,
)
def x_sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split: membership is a pure
    function of md5(salt||id), so it is stable under repartition,
    rerun, and engine change — unlike df.sample(seed), whose output
    depends on the physical partitioning (the silent test-leak
    hazard at scale). Oracle replicates the hash arithmetic."""
    from mfdb_hafro_etl_spark.operators import sampling as sp

    docs = load_table(spark, sf_dir, "documents")
    out = sp.hash_split(
        docs, "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.1}, salt="v1"
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# ------------------------------------------------ per-group sampling
@register(
    "x_sample_pergroup",
    """
    SELECT source, doc_id FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CAST(concat('0x', substr(md5('pg' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                          / CAST(16 ** 15 AS DOUBLE) ASC,
                        doc_id ASC) AS rn
      FROM documents) t
    WHERE rn <= 3
    """,
)
def x_sample_pergroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-per-source sample (reservoir-sampling
    replacement): one window pass over the group partitioning, with
    membership a pure function of (id, salt) — stable under
    repartition/rerun/engine, stable-under-append within a group.
    Oracle replicates the hash ranking exactly."""
    from mfdb_hafro_etl_spark.operators import sampling as sp

    docs = load_table(spark, sf_dir, "documents")
    return sp.per_group_sample(docs, "doc_id", "source", k=3, salt="pg").select(
        "source", "doc_id"
    )


# ---------------------------------------------- incremental dedup
def _incr_bands_sql(k: int = 8, rows_per_band: int = 2) -> str:
    sig_cols = _minhash_sig_cols(k, indent="           ")
    n_bands = k // rows_per_band
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {val} AS val FROM isig".format(
            b=b,
            val=" || ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(n_bands)
    )
    return f"""isig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    ibands AS ({band_selects})"""


@register(
    "x_dedup_incremental",
    f"""
    WITH {_SH_SQL},
    {_incr_bands_sql()},
    ex_idx AS (
      SELECT md5(text) AS h, MIN(doc_id) AS match_id
      FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1
    ),
    b_exact AS (
      SELECT d.doc_id, 'exact' AS dup_kind, e.match_id
      FROM documents d JOIN ex_idx e ON md5(d.text) = e.h
      WHERE d.doc_id % 5 = 0
    ),
    near_all AS (
      SELECT b.doc_id, MIN(c.doc_id) AS match_id
      FROM ibands b JOIN ibands c ON b.band = c.band AND b.val = c.val
      WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
      GROUP BY b.doc_id
    ),
    b_near AS (
      SELECT doc_id, 'near' AS dup_kind, match_id FROM near_all
      WHERE doc_id NOT IN (SELECT doc_id FROM b_exact)
    )
    SELECT doc_id, dup_kind, match_id FROM b_exact
    UNION ALL
    SELECT doc_id, dup_kind, match_id FROM b_near
    """,
)
def x_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: batch (doc_id % 5 == 0) probed against the
    standing corpus (doc_id % 5 != 0) — exact-hash equi-join plus
    MinHash LSH band bucket join, both against corpus-side structures
    a real deployment materializes once (dedup.lsh_band_table). The
    oracle replicates both probes; a minhash signature depends only
    on the doc's own shingles, so per-subset signatures equal
    filtered whole-corpus signatures."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return dd.dedup_against(corpus, batch, "doc_id", "text", n=3, k=8, rows_per_band=2)


# ------------------------------------------------ tf-idf similarity
@register(
    "x_search_tfidf",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    wdf AS (SELECT p.*, COUNT(*) OVER (PARTITION BY term) AS df FROM postings p),
    w AS (SELECT doc_id, term, df,
                 tf * (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) AS w
          FROM wdf, nd),
    norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      WHERE a.df <= 50 AND b.df <= 50
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
    FROM dots
    JOIN norms na ON id_a = na.doc_id
    JOIN norms nb ON id_b = nb.doc_id
    WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= 0.3
    """,
)
def x_search_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine document pairs (rational idf, max_df stop-term
    gate on pair generation, norms over ALL terms) — the
    bag-of-words sibling of the shingle-join dedup family. Oracle
    replicates weights, gate, and rounding exactly."""
    from mfdb_hafro_etl_spark.operators import search as srch

    docs = load_table(spark, sf_dir, "documents")
    return srch.tfidf_similar_pairs(
        docs, "doc_id", "text", threshold=0.3, max_df=50
    )


# ------------------------------------------------------- k-means
@register(
    "x_kmeans_embed",
    """
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent0 AS (SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8),
    assign0 AS (
      SELECT e.vec_id, e.v,
        (SELECT c.cid FROM cent0 c
         ORDER BY ROUND(list_dot_product(e.v, c.cv) /
                        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                  c.cid
         LIMIT 1) AS cid
      FROM emb e
    ),
    upd AS (
      SELECT cid, list(r ORDER BY d) AS cv FROM (
        SELECT a.cid, t.d, ROUND(AVG(a.v[t.d]), 9) AS r
        FROM assign0 a, unnest(generate_series(1, 64)) t(d)
        GROUP BY a.cid, t.d) s
      GROUP BY cid
    ),
    cent1 AS (
      SELECT c0.cid, COALESCE(u.cv, c0.cv) AS cv
      FROM cent0 c0 LEFT JOIN upd u ON c0.cid = u.cid
    ),
    assign1 AS (
      SELECT e.vec_id,
        (SELECT c.cid FROM cent1 c
         ORDER BY ROUND(list_dot_product(e.v, c.cv) /
                        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                  c.cid
         LIMIT 1) AS cid
      FROM emb e
    )
    SELECT cid, COUNT(*) AS n, MIN(vec_id) AS min_vec
    FROM assign1 GROUP BY cid
    """,
)
def x_kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (k=8, one Lloyd round from deterministic
    lowest-id seeds, centroids rounded to 9 dp for cross-engine
    mean parity): cluster sizes + smallest member id. Exercises the
    full iterate-assign-update loop the IVF index's kmeans_iters
    uses; the oracle unrolls the same round in SQL (per-dimension
    AVG, empty clusters keep their seed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = sim.kmeans_assign(emb, k=8, iters=1, round_to=9)
    return out.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n"), F.min("vec_id").alias("min_vec")
    )


# ----------------------------------------------- time-range moving agg
@register(
    "x_events_moving",
    """
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_i,
             COUNT(*) AS n,
             ROUND(SUM(value), 2) AS daily
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           strftime(DATE '1970-01-01' + to_days(CAST(day_i AS INTEGER)), '%Y-%m-%d') AS day,
           n, daily,
           ROUND(SUM(daily) OVER (
             PARTITION BY event_type ORDER BY day_i
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS moving7
    FROM daily
    """,
)
def x_events_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving sum per event type with time-RANGE frame
    semantics (calendar gaps shorten the window; a ROWS frame would
    reach past missing days). Daily pre-aggregation keeps the window
    input day-count-sized regardless of event volume."""
    from mfdb_hafro_etl_spark.operators.windows import time_range_moving_agg

    ev = load_table(spark, sf_dir, "events")
    return time_range_moving_agg(ev, "ts", "event_type", "value", days=7)


# ------------------------------------------------ sequence packing
@register(
    "x_sample_pack",
    """
    WITH lens AS (
      SELECT doc_id, len(string_split(text, ' ')) AS l,
             CAST(concat('0x', substr(md5('pk' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               / CAST(16 ** 15 AS DOUBLE) AS u
      FROM documents
      WHERE len(string_split(text, ' ')) > 0
    ),
    placed AS (
      SELECT doc_id, l, SUM(l) OVER (ORDER BY u, doc_id) - l AS strt FROM lens
    ),
    spans AS (
      SELECT doc_id, l, strt, t.seq_id
      FROM placed, unnest(generate_series(
             CAST(floor(strt / 256) AS BIGINT),
             CAST(floor((strt + l - 1) / 256) AS BIGINT))) t(seq_id)
    )
    SELECT doc_id, seq_id,
           GREATEST(strt, seq_id * 256) - strt AS doc_offset,
           GREATEST(strt, seq_id * 256) - seq_id * 256 AS seq_offset,
           LEAST(strt + l, seq_id * 256 + 256) - GREATEST(strt, seq_id * 256) AS span_len
    FROM spans
    """,
)
def x_sample_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing of the corpus into 256-token
    sequences (deterministic hash shuffle order; straddling docs
    split across sequences). The Spark side computes the global
    running offset as a distributed two-pass prefix sum (bucketed
    window + broadcast bucket bases); the oracle uses the equivalent
    single global window — identical placement because the bucket
    order refines the same (u, id) total order."""
    from mfdb_hafro_etl_spark.operators import sampling as sp
    from mfdb_hafro_etl_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tok", token_count(F.col("text"))
    )
    return sp.pack_sequences(docs, "doc_id", "n_tok", max_len=256, salt="pk")


# ---------------------------------------------- fuzzy entity matching
@register(
    "j14_fuzzy_join",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part),
    probes(pid, pname) AS (VALUES
      (1, 'smal ring'), (2, 'red wdget'), (3, 'blue boltt'), (4, 'grean gear')),
    lt AS (
      SELECT DISTINCT pid, substr(lower(pname), i, 3) AS g
      FROM probes, unnest(generate_series(1, len(pname) - 2)) t(i)
      WHERE len(pname) >= 3
    ),
    rt AS (
      SELECT DISTINCT p_name, substr(lower(p_name), i, 3) AS g
      FROM names, unnest(generate_series(1, len(p_name) - 2)) t(i)
      WHERE len(p_name) >= 3
    ),
    sl AS (SELECT pid, COUNT(*) AS n_l FROM lt GROUP BY 1),
    sr AS (SELECT p_name, COUNT(*) AS n_r FROM rt GROUP BY 1),
    inter AS (
      SELECT lt.pid AS pid, rt.p_name AS p_name, COUNT(*) AS i
      FROM lt JOIN rt ON lt.g = rt.g GROUP BY 1, 2
    )
    SELECT inter.pid AS pid, inter.p_name AS match_name,
           ROUND(CAST(i AS DOUBLE) / (n_l + n_r - i), 6) AS sim
    FROM inter
    JOIN sl ON inter.pid = sl.pid
    JOIN sr ON inter.p_name = sr.p_name
    WHERE ROUND(CAST(i AS DOUBLE) / (n_l + n_r - i), 6) >= 0.3
    """,
)
def j14_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity lookup: misspelled probe names resolved against
    the distinct part-name dimension by character-trigram Jaccard
    with trigram-blocking (operators.joins.fuzzy_trigram_join) — the
    approximate-match shape the reference's vessel-name
    reconciliation needs. Every probe's intended target ranks first
    ('smal ring' -> 'small ring' 0.67, 'blue boltt' -> 'blue bolt'
    0.875). The oracle replicates trigram extraction, blocking, and
    rounding."""
    from mfdb_hafro_etl_spark.operators.joins import fuzzy_trigram_join

    probes = spark.createDataFrame(
        [(1, "smal ring"), (2, "red wdget"), (3, "blue boltt"), (4, "grean gear")],
        "pid INT, pname STRING",
    )
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    out = fuzzy_trigram_join(
        probes, names, "pid", "pname", "p_name", "p_name",
        threshold=0.3, max_df=1000,
    )
    return out.select("pid", F.col("p_name").alias("match_name"), F.col("sim"))


# ------------------------------------------------ cohort retention
@register(
    "x_events_retention",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             datediff('week', DATE '1970-01-05', CAST(ts AS DATE)) AS week_i
      FROM events
    ),
    firsts AS (SELECT user_id, MIN(week_i) AS cohort FROM act GROUP BY 1)
    SELECT f.cohort, a.week_i - f.cohort AS week_offset,
           COUNT(*) AS n_active
    FROM act a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def x_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention — first-seen week per user vs later
    active weeks, the standard product-analytics triangle. Week
    index = whole weeks since Monday 1970-01-05, so both engines
    bucket identically without ISO-week edge cases. Plan shape: one
    distinct over (user, week) — the only corpus-sized shuffle —
    then a min-aggregate and a user-keyed broadcast-size join; the
    output is cohort² sized."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id",
        F.floor(
            F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-05"))) / 7
        ).cast("bigint").alias("week_i"),
    ).distinct()
    firsts = act.groupBy("user_id").agg(F.min("week_i").alias("cohort"))
    return (
        act.join(firsts, on="user_id")
        .groupBy("cohort", (F.col("week_i") - F.col("cohort")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# ---------------------------------------- daily activity anomalies
@register(
    "x_events_anomaly",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT user_id,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(n_events) AS DOUBLE) AS s,
             CAST(SUM(n_events * n_events) AS DOUBLE) AS sq
      FROM daily GROUP BY 1
    ),
    z AS (
      SELECT d.user_id, d.day, d.n_events,
             ROUND((CAST(d.n_events AS DOUBLE) - m.s / m.n)
                   / sqrt((m.sq - m.s * m.s / m.n) / (m.n - 1)), 6) AS z
      FROM daily d JOIN m ON d.user_id = m.user_id
      WHERE m.n > 1 AND (m.sq - m.s * m.s / m.n) / (m.n - 1) > 0
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_events, z
    FROM z WHERE ABS(z) > 2.0
    """,
)
def x_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily-activity outliers (|z| > 2 vs the user's own
    daily mean) — the data-quality monitor over the event stream.
    Variance comes from exact integer sums so the z expression is the
    identical correctly-rounded IEEE arithmetic on both engines
    (operators/sessions.py:daily_count_anomalies)."""
    ev = load_table(spark, sf_dir, "events")
    return sess.daily_count_anomalies(ev, z_threshold=2.0)


# ------------------------------------------------ ordered funnel
@register(
    "x_events_funnel",
    """
    WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
    SELECT 1 AS step_idx, 'view' AS step, (SELECT COUNT(*) FROM s1) AS n_users
    UNION ALL
    SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
    """,
)
def x_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: per-step
    user counts where each step must occur strictly after the user's
    previous step (operators/sessions.py:funnel). The oracle chains
    the same min-after-previous aggregates."""
    ev = load_table(spark, sf_dir, "events")
    f = sess.funnel(ev, ["view", "click", "purchase"])
    agg = f.agg(
        F.count("t_1").alias("c1"),
        F.count("t_2").alias("c2"),
        F.count("t_3").alias("c3"),
    )
    return agg.select(
        F.expr(
            "stack(3, 1, 'view', c1, 2, 'click', c2, 3, 'purchase', c3) "
            "AS (step_idx, step, n_users)"
        )
    )


# ---------------------------------------- corpus-build flagship (p12)
def _p12_sql() -> str:
    k, rpb = 8, 2
    sig_cols = _minhash_sig_cols(k, indent="             ")
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {val} AS val FROM sig".format(
            b=b, val=" || ".join(f"h{b * rpb + r}" for r in range(rpb))
        )
        for b in range(k // rpb)
    )
    return f"""
    WITH RECURSIVE
    arr AS (SELECT doc_id, text, string_split(text, ' ') AS a FROM documents),
    bi_all AS (
      SELECT doc_id, concat_ws(' ', a[i], a[i + 1]) AS bg
      FROM arr, unnest(generate_series(1, len(a) - 1)) t(i) WHERE len(a) >= 2
    ),
    bi AS (
      SELECT doc_id, MAX(cnt) AS top_bi_cnt
      FROM (SELECT doc_id, bg, COUNT(*) AS cnt FROM bi_all GROUP BY doc_id, bg)
      GROUP BY doc_id
    ),
    m AS (
      SELECT arr.doc_id, arr.text,
             len(a) AS n_tokens,
             CAST(len(list_distinct(a)) AS DOUBLE) / greatest(len(a), 1) AS ttr,
             CAST(COALESCE(bi.top_bi_cnt, 0) AS DOUBLE) / greatest(len(a) - 1, 1) AS top_bigram,
             CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
               / greatest(len(a), 1) AS sym_ratio
      FROM arr LEFT JOIN bi ON arr.doc_id = bi.doc_id
    ),
    keepers AS MATERIALIZED (
      SELECT doc_id, text FROM m
      WHERE n_tokens >= 5 AND n_tokens <= 10000
        AND ttr >= 0.2 AND top_bigram <= 0.25 AND sym_ratio <= 0.5
    ),
    ex AS (SELECT MIN(doc_id) AS doc_id FROM keepers GROUP BY md5(text)),
    s1 AS MATERIALIZED (SELECT k2.doc_id, k2.text FROM keepers k2 JOIN ex USING (doc_id)),
    arr2 AS (SELECT doc_id, string_split(text, ' ') AS a FROM s1),
    sh AS MATERIALIZED (SELECT DISTINCT doc_id, array_to_string(list_slice(a, i, i + 2), ' ') AS shingle
           FROM arr2, unnest(generate_series(1, len(a) - 2)) t(i) WHERE len(a) >= 3),
    sig AS MATERIALIZED (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT i.id_a, i.id_b
      FROM inter i JOIN sz sa ON i.id_a = sa.doc_id JOIN sz sb ON i.id_b = sb.doc_id
      WHERE ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) >= 0.6
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ),
    clus AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
    s2 AS (
      SELECT s1.doc_id, s1.text FROM s1 LEFT JOIN clus ON s1.doc_id = clus.doc_id
      WHERE clus.doc_id IS NULL OR clus.cluster_id = s1.doc_id
    ),
    sp AS (
      SELECT doc_id, len(string_split(text, ' ')) AS ntok,
             CASE WHEN u < 0.9 THEN 'train' WHEN u < 0.95 THEN 'valid' ELSE 'test' END AS split
      FROM (SELECT doc_id, text,
                   CAST(concat('0x', substr(md5('cb' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     / CAST(16 ** 15 AS DOUBLE) AS u
            FROM s2) t
    ),
    placed AS (
      SELECT SUM(ntok) OVER (
        ORDER BY CAST(concat('0x', substr(md5('cbp' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   / CAST(16 ** 15 AS DOUBLE), doc_id) AS e
      FROM sp WHERE split = 'train' AND ntok > 0
    ),
    nseq AS (SELECT COALESCE(CAST(CEIL(CAST(MAX(e) AS DOUBLE) / 256) AS BIGINT), 0) AS n FROM placed)
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CASE WHEN split = 'train' THEN (SELECT n FROM nseq) ELSE 0 END AS n_seqs
    FROM sp GROUP BY split
    """


@register("p12_corpus_build", _p12_sql())
def p12_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus build — the extension-surface
    flagship, composing the pipeline a 100 TB pretraining corpus
    actually runs:

      quality filter (Gopher rules, Arrow kernel, map-only)
      → exact dedup (hash groupBy, keep smallest id)
      → near-dup removal (MinHash-LSH pairs → connected components →
        keep each cluster's representative)
      → deterministic train/valid/test split (hash, leak-proof)
      → sequence packing of the train split (distributed prefix sum)

    Output: per-split doc/token counts + packed train sequence count.
    Every stage is the already-verified operator; the oracle composes
    the same stages in one SQL chain (recursive CTE for the
    components), so the INTEGRATION is hash-verified too — stage
    wiring bugs (filtering after split, packing before dedup) would
    flip the counts."""
    return corpus_build(spark, sf_dir)


def corpus_build(
    spark: SparkSession,
    sf_dir: str,
    tokenizer: str = "whitespace",
    n_merges: int = 16,
    lm_tail_min: float | None = None,
    lm_train: DataFrame | None = None,
    keep_best_by: str | None = None,
    lm_order: int = 2,
    lm_tail_quantile: float | None = None,
) -> DataFrame:
    """The p12 pipeline body, parameterized by the token accounting
    that drives packing:

    - ``whitespace`` (the oracle-verified arm's default): n_tok =
      whitespace token count — tokenizer-approximate, zero extra
      passes;
    - ``bpe``: train ``n_merges`` BPE merges on the deduped corpus
      (bpe_train — one corpus shuffle) and count each doc's ACTUAL
      encoded tokens (bpe_encode — map-only kernel), so packing is
      token-exact the way a real pretraining corpus needs. Costs one
      extra corpus pass + a doc-keyed join; not SQL-oracle
      expressible at reasonable cost (the rank-deep merge fold is
      iterative), so it's pinned by tests/test_corpus_ops.py
      instead of a driver slot.

    ``lm_tail_min`` / ``lm_tail_quantile``: optional CCNet-style
    LM-perplexity gate (operators/lm.py) applied BETWEEN the
    rule-based quality filter and dedup — the stage order a public
    pipeline uses (rules are cheap, run first; the LM score prunes
    the boilerplate the rules miss; dedup then runs on less data). A
    Kneser-Ney model of ``lm_order`` (2 = bigram, 3 = interpolated
    trigram) is trained on ``lm_train`` (a clean reference corpus)
    or, absent one, on the rule-surviving docs themselves, and docs
    in the perplexity 'tail' are dropped: ``lm_tail_min`` compares
    the UNROUNDED ppl to a fixed constant (the historical r10 arm,
    byte-identical); ``lm_tail_quantile`` derives the cutoff as a
    corpus percentile of the 6dp-rounded ppl (one bounded-scalar
    action), so the gate drops the same FRACTION at every corpus
    size — the scale-robust form (r10 verdict next #6). Default both
    None = stage off; the oracle-verified p12 arm runs with it off,
    and tests pin that None is byte-identical to the historical
    pipeline while the scored paths are verified by the
    x_lm_perplexity / x_lm3_perplexity / x_corpus_build_ccnet arms.

    ``keep_best_by``: optional quality-aware near-dup keep-one — name
    a numeric gopher-metric column (e.g. ``ttr``, ``n_tokens``) and
    each duplicate cluster keeps its highest-scoring member
    (dedup.cluster_representatives, min-id tie-break) instead of the
    smallest id. The special value ``"lm_neg_ppl"`` scores clusters
    by NEGATED LM perplexity (requires ``lm_tail_min``: the gate's
    scored frame is reused, costing nothing extra) — the full public
    CCNet → dedup-keep-best composition: each near-dup cluster keeps
    the member the clean-corpus LM finds LEAST surprising. Default
    None preserves the historical min-id policy byte-identically
    (pinned). Oracle-verified end-to-end by the x_corpus_build_ccnet
    arm (p12_corpus_family combo)."""
    from mfdb_hafro_etl_spark.operators import cleaning as cl
    from mfdb_hafro_etl_spark.operators import sampling as sp

    docs = load_table(spark, sf_dir, "documents")
    m = cl.gopher_metrics_table(docs, "doc_id", "text")
    keep = (
        (F.col("n_tokens") >= 5)
        & (F.col("n_tokens") <= 10000)
        & (F.col("ttr") >= 0.2)
        & (F.col("top_bigram") <= 0.25)
        & (F.col("sym_ratio") <= 0.5)
    )
    # persist the rule filter's ID SET (id-sized, safe at any corpus
    # scale): every downstream scan of `kept` — the exact-dedup pass,
    # the s1 build, and (with the LM stage on) both training scans and
    # the scoring scan — would otherwise re-run the gopher Arrow
    # kernel over the full corpus; with the ids cached they re-read
    # parquet + one broadcast semi-join. Pinned to the returned
    # frame's lifetime (pin_to_result below).
    rule_ids = m.filter(keep).select("doc_id").persist()
    kept = docs.join(rule_ids, "doc_id")
    scored_lm = None
    lm_pins: list[DataFrame] = [rule_ids]
    if lm_tail_min is not None or lm_tail_quantile is not None:
        from mfdb_hafro_etl_spark.operators import lm as lmod

        # persist the type-sized model tables: the gate and the
        # keep-best scoring both consume scored_lm, and an unpersisted
        # model re-derives its corpus scans per consumer; the pin is
        # scoped to the RETURNED frame's lifetime (pin_to_result
        # below), the r7 eager-cache contract
        if lm_order not in (2, 3):
            raise ValueError(f"corpus_build: lm_order must be 2 or 3, got {lm_order}")
        model = lmod.train_kn(lm_train if lm_train is not None else kept, lm_order)
        scored_raw = lmod.perplexity(kept, model)
        model_pins = list(model.tables)
        # score ONCE into a persisted doc-id-sized table: the gate,
        # the exact-dedup/s1 rebuilds of `kept`, and the keep-best
        # scoring all read it — without the pin each consumer re-runs
        # the whole explode-and-join scoring subtree
        if lm_tail_quantile is not None:
            # quantile gate (r11): the cutoff is a corpus percentile of
            # the 6dp-ROUNDED ppl (one exact-percentile action over the
            # persisted doc-id-sized table), so the gate drops the same
            # FRACTION at every corpus size instead of degenerating as
            # the ppl distribution shifts right with scale (the r10
            # fixed-constant lesson). Rounding first makes the gate
            # parity-exact: both engines compare identical doubles
            # against a threshold that cannot sit on a document value
            # it wasn't derived from.
            # localCheckpoint, NOT persist: a persisted scored table's
            # InMemoryRelation retains the scoring subtree's PHYSICAL
            # plan, which keeps all eight model broadcast exchanges
            # live for the life of the result — measured to OOM a
            # default-heap (1g) driver once this chain runs next to the
            # p12 baseline in one combo plan (the r10 combo-memory
            # bound, re-measured r11 with the trigram model; 1.5g
            # passes, 1g dies). The eager checkpoint materializes the
            # doc-id-sized table and TRUNCATES lineage, so the model
            # tables and their broadcasts are collectable immediately.
            scored_lm = scored_raw.select(
                "doc_id", F.round("ppl", 6).alias("ppl")
            ).localCheckpoint(eager=True)
            cutoff = lmod.ppl_thresholds(
                scored_lm, cuts=(lm_tail_quantile,), exact=True
            )[0]
            model.unpersist()
            # NO release pin for the checkpoint: unlike a persisted
            # cache (unpersist -> recompute, slower never wrong), a
            # truncated-lineage checkpoint is UNRECOVERABLE — a pin
            # firing while any derived plan still executes fails that
            # plan with a missing-checkpoint-block error (measured in
            # the combo, where the arm's result object is dropped
            # after deriving the tagged union from it). The blocks are
            # doc-id-sized and reclaimed by the ContextCleaner once
            # the JVM-side plans referencing the RDD are GC'd.
            model_pins = []
        else:
            # fixed-constant gate: UNROUNDED ppl, byte-identical to the
            # historical (r10) bigram CCNet arm
            scored_lm = scored_raw.select("doc_id", "ppl").persist()
            cutoff = lm_tail_min
        # APPEND to the pin list (rule_ids is already in it): replacing
        # it would orphan the persisted id-set on the LM-enabled path
        # and leak executor cache past the result's lifetime
        lm_pins += model_pins + (
            [scored_lm] if lm_tail_quantile is None else []
        )
        good = scored_lm.filter(
            F.col("ppl").isNotNull() & (F.col("ppl") < F.lit(cutoff))
        ).select("doc_id")
        kept = kept.join(good, "doc_id")
    ex = kept.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("doc_id"))
    s1 = kept.join(ex.select("doc_id"), "doc_id").cache()
    pairs = dd.minhash_lsh_pairs(
        s1, "doc_id", "text", n=3, k=8, rows_per_band=2, threshold=0.6
    )
    clus = dd.duplicate_clusters(pairs)
    if keep_best_by is not None:
        # quality-aware keep-one: each near-dup cluster keeps its
        # highest-scoring member (min-id tie-break) instead of the
        # smallest id — scored by a gopher-metric column, or by the
        # LM gate's negated perplexity (CCNet keep-best)
        if keep_best_by == "lm_neg_ppl":
            if scored_lm is None:
                raise ValueError(
                    "keep_best_by='lm_neg_ppl' needs the LM stage: pass "
                    "lm_tail_min or lm_tail_quantile (the gate's scored "
                    "frame supplies the cluster scores)"
                )
            score_table = scored_lm.select(
                "doc_id", (-F.col("ppl")).alias("lm_neg_ppl")
            )
        else:
            # persist the id+score projection (id-sized, same pattern
            # as rule_ids): cluster_representatives joins this table
            # against the clusters, and an unpersisted projection of
            # `m` re-runs the full-corpus gopher Arrow kernel a second
            # time — exactly the cost the rule_ids pin exists to avoid
            score_table = m.select("doc_id", keep_best_by).persist()
            lm_pins.append(score_table)
        reps = dd.cluster_representatives(
            clus, score_table, score_col=keep_best_by
        )
        dupes = clus.join(
            reps.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_anti"
        ).select("doc_id")
    else:
        dupes = clus.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    s2 = s1.join(dupes, "doc_id", "left_anti")
    split_df = sp.hash_split(
        s2, "doc_id", {"train": 0.9, "valid": 0.05, "test": 0.05}, salt="cb"
    )
    if tokenizer == "bpe":
        merges = tx.bpe_train(s2, "text", n_merges=n_merges)
        ntok = tx.bpe_encode(s2, merges, "doc_id", "text").select(
            "doc_id", F.size("tokens").alias("n_tok")
        )
        with_tok = split_df.join(ntok, "doc_id")
    else:
        with_tok = split_df.withColumn("n_tok", tx.token_count(F.col("text")))
    packed = sp.pack_sequences(
        with_tok.filter(F.col("split") == "train"), "doc_id", "n_tok",
        max_len=256, salt="cbp",
    )
    nseq = packed.agg(F.countDistinct("seq_id").alias("n_seqs")).withColumn(
        "split", F.lit("train")
    )
    summary = with_tok.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    from mfdb_hafro_etl_spark.session import pin_to_result

    return pin_to_result(
        summary.join(nseq, "split", "left").select(
            "split", "n_docs", "n_tokens",
            F.coalesce(F.col("n_seqs"), F.lit(0)).cast("long").alias("n_seqs"),
        ),
        [s1] + lm_pins,
    )


# --------------------------- CCNet corpus-build (LM gate + keep-best)
_CCNET_LM2_SECTION = '''    ltok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
      FROM keepers
    ),
    lflat AS (
      SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
      FROM ltok WHERE len(toks) > 0
    ),
    uni AS (SELECT w, count(*) AS cnt FROM lflat GROUP BY w),
    vocab AS (SELECT w FROM uni WHERE cnt >= 2),
    tpairs AS (
      SELECT CASE WHEN p.c = '<s>' THEN '<s>' ELSE coalesce(vc.w, '<unk>') END AS c,
             coalesce(vw.w, '<unk>') AS w
      FROM (
        SELECT doc_id, w,
               coalesce(lag(w) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS c
        FROM lflat
      ) p
      LEFT JOIN vocab vc ON p.c = vc.w
      LEFT JOIN vocab vw ON p.w = vw.w
    ),
    bigrams AS (SELECT c, w, count(*) AS cnt FROM tpairs GROUP BY c, w),
    contexts AS (
      SELECT c, CAST(sum(cnt) AS BIGINT) AS cnt_c, count(*) AS n_succ
      FROM bigrams GROUP BY c
    ),
    cont AS (SELECT w, count(*) AS n_prec FROM bigrams GROUP BY w),
    lst AS (
      SELECT (SELECT count(*) FROM bigrams) AS n_types,
             (SELECT count(*) FROM vocab) AS vsize,
             (SELECT count(*) FROM bigrams WHERE cnt = 1) AS n1,
             (SELECT count(*) FROM bigrams WHERE cnt = 2) AS n2
    ),
    lstd AS (
      SELECT n_types,
             CASE WHEN n1 + 2 * n2 > 0 THEN n1 / (n1 + 2 * n2) ELSE 0.75 END AS d,
             1.0 / (vsize + 1) AS floor_p
      FROM lst
    ),
    lspairs AS (
      SELECT p.doc_id,
             CASE WHEN p.c = '<s>' THEN '<s>' ELSE coalesce(vc.w, '<unk>') END AS c,
             coalesce(vw.w, '<unk>') AS w
      FROM (
        SELECT doc_id, w,
               coalesce(lag(w) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS c
        FROM lflat
      ) p
      LEFT JOIN vocab vc ON p.c = vc.w
      LEFT JOIN vocab vw ON p.w = vw.w
    ),
    lpraw AS (
      SELECT s.doc_id, lstd.floor_p,
             CASE WHEN cx.cnt_c IS NULL THEN
                    CASE WHEN coalesce(ct.n_prec, 0) / lstd.n_types > 0
                         THEN coalesce(ct.n_prec, 0) / lstd.n_types
                         ELSE lstd.floor_p END
                  ELSE greatest(coalesce(bg.cnt, 0) - lstd.d, 0.0) / cx.cnt_c
                       + (lstd.d * cx.n_succ / cx.cnt_c) *
                         CASE WHEN coalesce(ct.n_prec, 0) / lstd.n_types > 0
                              THEN coalesce(ct.n_prec, 0) / lstd.n_types
                              ELSE lstd.floor_p END
             END AS p_raw
      FROM lspairs s
      CROSS JOIN lstd
      LEFT JOIN bigrams bg ON s.c = bg.c AND s.w = bg.w
      LEFT JOIN contexts cx ON s.c = cx.c
      LEFT JOIN cont ct ON s.w = ct.w
    ),
    lprobs AS (
      SELECT doc_id,
             CASE WHEN p_raw > 0 THEN p_raw ELSE floor_p END AS p
      FROM lpraw
    ),
    lagg AS (
      SELECT doc_id, count(*) AS n_tokens, sum(ln(p)) AS logprob
      FROM lprobs GROUP BY doc_id
    ),
    lmppl AS MATERIALIZED (SELECT doc_id, {PPL_EXPR} AS ppl FROM lagg),
'''

_CCNET_LM3_SECTION = '''    ltok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
      FROM keepers
    ),
    lflat AS (
      SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
      FROM ltok WHERE len(toks) > 0
    ),
    uni AS (SELECT w, count(*) AS cnt FROM lflat GROUP BY w),
    vocab AS MATERIALIZED (SELECT w FROM uni WHERE cnt >= 2),
    ttrip AS MATERIALIZED (
      SELECT t.doc_id,
             CASE WHEN t.u = '<s>' THEN '<s>' ELSE coalesce(vu.w, '<unk>') END AS u,
             CASE WHEN t.v = '<s>' THEN '<s>' ELSE coalesce(vv.w, '<unk>') END AS v,
             coalesce(vw.w, '<unk>') AS w
      FROM (
        SELECT doc_id, w,
               coalesce(lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS u,
               coalesce(lag(w, 1) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS v
        FROM lflat
      ) t
      LEFT JOIN vocab vu ON t.u = vu.w
      LEFT JOIN vocab vv ON t.v = vv.w
      LEFT JOIN vocab vw ON t.w = vw.w
    ),
    tri AS MATERIALIZED (SELECT u, v, w, count(*) AS cnt FROM ttrip GROUP BY u, v, w),
    ctx3 AS (
      SELECT u, v, CAST(sum(cnt) AS BIGINT) AS cnt_uv, count(*) AS n_succ3
      FROM tri GROUP BY u, v
    ),
    cont2 AS MATERIALIZED (SELECT v, w, count(*) AS ckn FROM tri GROUP BY v, w),
    ctx2 AS (
      SELECT v, CAST(sum(ckn) AS BIGINT) AS ckn_v, count(*) AS n_succ2
      FROM cont2 GROUP BY v
    ),
    cont1 AS (SELECT w, count(*) AS n_prec FROM cont2 GROUP BY w),
    lst AS (
      SELECT (SELECT count(*) FROM cont2) AS n_bitypes,
             (SELECT count(*) FROM vocab) AS vsize,
             (SELECT count(*) FROM tri WHERE cnt = 1) AS n1_3,
             (SELECT count(*) FROM tri WHERE cnt = 2) AS n2_3,
             (SELECT count(*) FROM cont2 WHERE ckn = 1) AS n1_2,
             (SELECT count(*) FROM cont2 WHERE ckn = 2) AS n2_2
    ),
    lstd AS (
      SELECT n_bitypes,
             CASE WHEN n1_3 + 2 * n2_3 > 0 THEN n1_3 / (n1_3 + 2 * n2_3) ELSE 0.75 END AS d3,
             CASE WHEN n1_2 + 2 * n2_2 > 0 THEN n1_2 / (n1_2 + 2 * n2_2) ELSE 0.75 END AS d2,
             1.0 / (vsize + 1) AS floor_p
      FROM lst
    ),
    pl1 AS (
      SELECT s.doc_id, lstd.floor_p, lstd.d2, lstd.d3,
             tg.cnt, x3.cnt_uv, x3.n_succ3,
             c2.ckn, x2.ckn_v, x2.n_succ2,
             CASE WHEN coalesce(c1.n_prec, 0) / lstd.n_bitypes > 0
                  THEN coalesce(c1.n_prec, 0) / lstd.n_bitypes
                  ELSE lstd.floor_p END AS p_cont
      FROM ttrip s
      CROSS JOIN lstd
      LEFT JOIN tri tg ON s.u = tg.u AND s.v = tg.v AND s.w = tg.w
      LEFT JOIN ctx3 x3 ON s.u = x3.u AND s.v = x3.v
      LEFT JOIN cont2 c2 ON s.v = c2.v AND s.w = c2.w
      LEFT JOIN ctx2 x2 ON s.v = x2.v
      LEFT JOIN cont1 c1 ON s.w = c1.w
    ),
    pl2 AS (
      SELECT doc_id, floor_p, d3, cnt, cnt_uv, n_succ3,
             CASE WHEN ckn_v IS NULL THEN p_cont
                  ELSE greatest(coalesce(ckn, 0) - d2, 0.0) / ckn_v
                       + (d2 * n_succ2 / ckn_v) * p_cont
             END AS p_kn2
      FROM pl1
    ),
    pl3 AS (
      SELECT doc_id, floor_p,
             CASE WHEN cnt_uv IS NULL THEN p_kn2
                  ELSE greatest(coalesce(cnt, 0) - d3, 0.0) / cnt_uv
                       + (d3 * n_succ3 / cnt_uv) * p_kn2
             END AS p_raw
      FROM pl2
    ),
    lprobs AS (
      SELECT doc_id,
             CASE WHEN p_raw > 0 THEN p_raw ELSE floor_p END AS p
      FROM pl3
    ),
    lagg AS (
      SELECT doc_id, count(*) AS n_tokens, sum(ln(p)) AS logprob
      FROM lprobs GROUP BY doc_id
    ),
    lmppl AS MATERIALIZED (SELECT doc_id, {PPL_EXPR} AS ppl FROM lagg),
'''


def _p12_ccnet_sql(
    tail_min: float = 32.0,
    lm_order: int = 2,
    tail_quantile: float | None = None,
) -> str:
    """The p12 oracle with the two CCNet stages switched ON: a
    Kneser-Ney LM of ``lm_order`` (2 = bigram, 3 = interpolated
    trigram) trained on the rule-surviving docs gates the tail
    (BETWEEN the Gopher rules and dedup), and each near-dup cluster
    keeps its LOWEST-perplexity member (argmin ppl, min-id tie-break)
    instead of the smallest id. The gate drops ppl >= tail_min
    (unrounded, the historical bigram form) or, with
    ``tail_quantile``, ppl >= quantile_cont of the 6dp-ROUNDED ppl —
    the scale-robust form mirrored by corpus_build's
    lm_tail_quantile. The LM CTEs are the proven
    x_lm_perplexity/_LM3_SQL templates (same IEEE trees); the
    pipeline CTEs are the proven p12 template; only the wiring
    between them is new — which is exactly what this arm verifies.
    Shared LM CTEs are AS MATERIALIZED (the DuckDB CTE-inlining
    lesson)."""
    k, rpb = 8, 2
    if tail_quantile is not None:
        ppl_expr = "round(exp(-logprob / n_tokens), 6)"
        gate_section = f"""    lthr AS (
      SELECT quantile_cont(ppl, {tail_quantile!r}) AS cut
      FROM lmppl WHERE ppl IS NOT NULL
    ),
    keepers2 AS (
      SELECT k2.doc_id, k2.text
      FROM keepers k2 JOIN lmppl l ON k2.doc_id = l.doc_id
      CROSS JOIN lthr
      WHERE l.ppl < lthr.cut
    ),
"""
    else:
        ppl_expr = "exp(-logprob / n_tokens)"
        gate_section = f"""    keepers2 AS (
      SELECT k2.doc_id, k2.text
      FROM keepers k2 JOIN lmppl l ON k2.doc_id = l.doc_id
      WHERE l.ppl < {tail_min!r}
    ),
"""
    LM_SECTION = (_CCNET_LM3_SECTION if lm_order == 3 else _CCNET_LM2_SECTION).replace(
        "{PPL_EXPR}", ppl_expr
    )
    GATE_SECTION = gate_section
    sig_cols = _minhash_sig_cols(k, indent="             ")
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {val} AS val FROM sig".format(
            b=b, val=" || ".join(f"h{b * rpb + r}" for r in range(rpb))
        )
        for b in range(k // rpb)
    )
    return f"""
    WITH RECURSIVE
    arr AS (SELECT doc_id, text, string_split(text, ' ') AS a FROM documents),
    bi_all AS (
      SELECT doc_id, concat_ws(' ', a[i], a[i + 1]) AS bg
      FROM arr, unnest(generate_series(1, len(a) - 1)) t(i) WHERE len(a) >= 2
    ),
    bi AS (
      SELECT doc_id, MAX(cnt) AS top_bi_cnt
      FROM (SELECT doc_id, bg, COUNT(*) AS cnt FROM bi_all GROUP BY doc_id, bg)
      GROUP BY doc_id
    ),
    m AS (
      SELECT arr.doc_id, arr.text,
             len(a) AS n_tokens,
             CAST(len(list_distinct(a)) AS DOUBLE) / greatest(len(a), 1) AS ttr,
             CAST(COALESCE(bi.top_bi_cnt, 0) AS DOUBLE) / greatest(len(a) - 1, 1) AS top_bigram,
             CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
               / greatest(len(a), 1) AS sym_ratio
      FROM arr LEFT JOIN bi ON arr.doc_id = bi.doc_id
    ),
    keepers AS MATERIALIZED (
      SELECT doc_id, text FROM m
      WHERE n_tokens >= 5 AND n_tokens <= 10000
        AND ttr >= 0.2 AND top_bigram <= 0.25 AND sym_ratio <= 0.5
    ),
{LM_SECTION}{GATE_SECTION}    ex AS (SELECT MIN(doc_id) AS doc_id FROM keepers2 GROUP BY md5(text)),
    s1 AS MATERIALIZED (SELECT k2.doc_id, k2.text FROM keepers2 k2 JOIN ex USING (doc_id)),
    arr2 AS (SELECT doc_id, string_split(text, ' ') AS a FROM s1),
    sh AS MATERIALIZED (SELECT DISTINCT doc_id, array_to_string(list_slice(a, i, i + 2), ' ') AS shingle
           FROM arr2, unnest(generate_series(1, len(a) - 2)) t(i) WHERE len(a) >= 3),
    sig AS MATERIALIZED (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT i.id_a, i.id_b
      FROM inter i JOIN sz sa ON i.id_a = sa.doc_id JOIN sz sb ON i.id_b = sb.doc_id
      WHERE ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) >= 0.6
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ),
    clus AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
    reps AS (
      SELECT cluster_id, doc_id AS keep_id
      FROM (SELECT c.cluster_id, c.doc_id,
                   row_number() OVER (PARTITION BY c.cluster_id
                                      ORDER BY l.ppl ASC, c.doc_id ASC) AS rn
            FROM clus c JOIN lmppl l ON c.doc_id = l.doc_id)
      WHERE rn = 1
    ),
    s2 AS (
      SELECT s1.doc_id, s1.text FROM s1
      LEFT JOIN clus ON s1.doc_id = clus.doc_id
      LEFT JOIN reps ON clus.cluster_id = reps.cluster_id
      WHERE clus.doc_id IS NULL OR reps.keep_id = s1.doc_id
    ),
    sp AS (
      SELECT doc_id, len(string_split(text, ' ')) AS ntok,
             CASE WHEN u < 0.9 THEN 'train' WHEN u < 0.95 THEN 'valid' ELSE 'test' END AS split
      FROM (SELECT doc_id, text,
                   CAST(concat('0x', substr(md5('cb' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     / CAST(16 ** 15 AS DOUBLE) AS u
            FROM s2) t
    ),
    placed AS (
      SELECT SUM(ntok) OVER (
        ORDER BY CAST(concat('0x', substr(md5('cbp' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   / CAST(16 ** 15 AS DOUBLE), doc_id) AS e
      FROM sp WHERE split = 'train' AND ntok > 0
    ),
    nseq AS (SELECT COALESCE(CAST(CEIL(CAST(MAX(e) AS DOUBLE) / 256) AS BIGINT), 0) AS n FROM placed)
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CASE WHEN split = 'train' THEN (SELECT n FROM nseq) ELSE 0 END AS n_seqs
    FROM sp GROUP BY split
    """


@register("x_corpus_build_ccnet", _p12_ccnet_sql(lm_order=3, tail_quantile=2.0 / 3))
def x_corpus_build_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The p12 corpus build with BOTH CCNet stages on — the full
    public pipeline composition (Wenzek et al. 2020 + Lee et al.
    2022): Gopher rules → LM-perplexity tail gate (interpolated
    TRIGRAM KN self-trained on the rule survivors — r11, upgraded
    from the r10 bigram per the verdict's next #5 — dropping the
    worst-third quantile tail, the scale-robust gate form) → exact
    dedup → MinHash-LSH near-dup clusters, each keeping its
    LOWEST-perplexity member (keep_best_by='lm_neg_ppl',
    dedup.cluster_representatives) → leak-proof split → sequence
    packing. Verifies the round-9/10/11 pieces (trigram LM scores,
    quantile gate, quality-aware representatives, corpus_build)
    COMPOSED in one oracle-backed slot: the oracle re-derives the
    FULL trigram model, replays the quantile gate and the argmin-ppl
    keep-one, and re-runs the whole chain, so a wiring bug in any
    stage boundary flips the counts. The bigram fixed-cutoff
    composition stays available via corpus_build(lm_tail_min=...)
    and is pinned by tests/test_lm.py against _p12_ccnet_sql's
    bigram form. Rides the p12_corpus_family combo (driver_view.py)
    next to the plain-p12 baseline arm — still exactly ONE LM build
    in the combo's unioned plan (the default-heap OOM bound,
    COVERAGE.md)."""
    return corpus_build(
        spark,
        sf_dir,
        lm_order=3,
        lm_tail_quantile=2.0 / 3,
        keep_best_by="lm_neg_ppl",
    )


# ------------------------------------------- content-defined chunking
@register(
    "x_text_chunks",
    """
    WITH g AS (SELECT doc_id, text, length(text) AS L FROM documents WHERE length(text) > 0),
    cutj AS (
      SELECT doc_id, i + 5 AS cut
      FROM g, unnest(generate_series(1, L - 4)) t(i)
      WHERE L >= 5
        AND CAST(concat('0x', substr(md5(substr(text, CAST(i AS INT), 5)), 1, 8)) AS BIGINT) % 64 = 0
    ),
    cuts AS (
      SELECT doc_id, cut FROM cutj
      UNION
      SELECT doc_id, L + 1 FROM g
    ),
    segs AS (
      SELECT doc_id, cut,
             COALESCE(LAG(cut) OVER (PARTITION BY doc_id ORDER BY cut), 1) AS strt,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cut) - 1 AS chunk_id
      FROM cuts
    )
    SELECT s.doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(strt AS INT) AS start,
           CAST(cut - strt AS INT) AS length,
           md5(substr(g.text, CAST(strt AS INT), CAST(cut - strt AS INT))) AS chunk_hash
    FROM segs s JOIN g ON s.doc_id = g.doc_id
    """,
)
def x_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (FastCDC-style): boundaries where the
    char-5-gram rolling hash ≡ 0 mod 64 — edits reshape only their
    own chunk (the RAG-chunk-cache / chunk-dedup property fixed-size
    chunking lacks). Arrow kernel, map-only; oracle replicates the
    boundary rule with the identical md5-8hex gram hash."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.content_defined_chunks(docs, "doc_id", "text", k=5, divisor=64)


# ------------------------------------------- embedding quantization
@register(
    "x_embed_quantize",
    """
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ex AS (SELECT vec_id, t.d AS d, v[t.d] AS x
           FROM emb, unnest(generate_series(1, 64)) t(d)),
    st AS (SELECT d, MIN(x) AS lo, MAX(x) AS hi FROM ex GROUP BY d),
    q AS (
      SELECT ex.vec_id,
             CASE WHEN hi > lo
                  THEN LEAST(GREATEST(FLOOR((x - lo) / ((hi - lo) / 255.0) + 0.5), 0), 255)
                  ELSE 0 END AS code,
             CASE WHEN hi > lo THEN (hi - lo) / 255.0 ELSE 0.0 END AS scale,
             lo, x
      FROM ex JOIN st ON ex.d = st.d
    )
    SELECT vec_id,
           CAST(SUM(code) AS BIGINT) AS code_l1,
           ROUND(MAX(ABS(lo + code * scale - x)), 6) AS max_err
    FROM q GROUP BY vec_id
    """,
)
def x_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding corpus (per-dim
    min/max affine codes) with per-vector code-sum and max
    reconstruction error — the 4× memory cut an ANN index takes at
    scale. floor(x+0.5) code rounding on both engines (no
    half-to-even divergence); the dimension stats are the only
    driver-collected state (64 rows)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.quantize_embeddings(emb)


# -------------------------------------------- exact duplicate spans
@register(
    "x_dedup_spans",
    """
    WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    pg AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             md5(array_to_string(list_slice(a, i, i + 4), ' ')) AS h
      FROM arr, unnest(generate_series(1, len(a) - 4)) t(i)
      WHERE len(a) >= 5
    ),
    dfs AS (
      SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS gdf FROM pg GROUP BY h)
      WHERE gdf >= 2 AND gdf <= 10000
    ),
    hits AS (SELECT pg.doc_id, pg.pos FROM pg JOIN dfs USING (h)),
    isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM hits
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
           COUNT(*) AS n_dup_grams
    FROM isl GROUP BY doc_id, grp
    """,
)
def x_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span detection (substring dedup, Lee et al.):
    maximal token spans whose 5-grams each occur in >= 2 documents —
    the spans a pipeline cuts instead of dropping whole docs
    (operators/dedup.py:duplicate_spans). Integer-only output, so
    the oracle hash has no float hazards."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.duplicate_spans(docs, "doc_id", "text", n=5, min_df=2)


# ------------------------------------------------ global shuffle order
@register(
    "x_sample_shuffle",
    """
    WITH u AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5('gs' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               / CAST(16 ** 15 AS DOUBLE) AS u
      FROM documents
    )
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY u, doc_id) - 1 AS shuffle_rank
    FROM u
    """,
)
def x_sample_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle order (sampling.global_shuffle):
    0-based rank in the portable (md5-unit, id) total order, computed
    as a bucketed two-pass prefix count — the oracle's single global
    window produces the identical ranks because the bucket order
    refines the same total order."""
    from mfdb_hafro_etl_spark.operators import sampling as sp

    docs = load_table(spark, sf_dir, "documents")
    return sp.global_shuffle(docs, "doc_id", salt="gs").select(
        "doc_id", "shuffle_rank"
    )
