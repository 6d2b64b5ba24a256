"""Keyword search / relevance scoring over the document corpus:
document frequencies, TF-IDF-family weights, BM25-shaped ranking.

Driver extension scope (no reference counterpart). Plan shapes:

- corpus statistics (df per term, avg doc length) are one
  explode+groupBy over the token stream — the inverted-index build
  pass; at 100 TB this is the once-per-corpus job whose output is a
  term-keyed table orders of magnitude smaller than the corpus.
- query scoring filters the token stream to the query's terms FIRST
  (an `isin` over a literal list — pushed into the scan), so the
  groupBy that follows shuffles only matching (doc, term) rows, and
  the df/avglen side joins in as a broadcast (term-count-sized).

Scoring uses the BM25 saturation shape with a RATIONAL idf
((N - df + 0.5)/(df + 0.5), no logarithm): division is a single
correctly-rounded IEEE operation, identical in Spark and DuckDB,
whereas ln() implementations may differ in the last ulp — determinism
the oracle hash depends on. Rank order equals log-idf BM25's whenever
idf > 0 terms dominate; swap in F.ln for the textbook variant when
cross-engine hashing isn't required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mfdb_hafro_etl_spark.session import pin_to_result


def term_stats(
    corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, df) document frequencies over whitespace tokens."""
    toks = corpus.select(
        F.col(id_col), F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("term")
    )
    return toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def bm25_topk(
    corpus: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` docs for a bag-of-words query under the BM25 shape
    (rational idf — module docstring). Returns (id, score) with
    deterministic tie-break on id; score rounded to 6.

    tf comes from counting the query terms in each doc's token
    array (a codegen'd filter, no explode of non-matching tokens);
    df and the corpus aggregates (N, avgdl) come from one explode
    pass and join in as broadcasts.
    """
    toks = F.split(F.col(text_col), " ")
    qlit = F.array(*[F.lit(t) for t in query_terms])

    def _eq(term: str):
        # arity-1 closure: a 2-arg lambda (t, term=term) would be
        # treated by F.filter as the (element, index) signature and
        # bind `term` to the index column
        return lambda t: t == F.lit(term)

    # per-doc: doc length and tf per query term (array algebra only)
    per_doc = corpus.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        *[
            F.size(F.filter(toks, _eq(term))).alias(f"__tf_{i}__")
            for i, term in enumerate(query_terms)
        ],
    ).filter(F.size(F.array_intersect(toks, qlit)) > 0)

    # corpus constants: N and average doc length (scalar broadcast)
    stats = corpus.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(toks)).alias("avgdl"),
    )

    # df per query term: filter the term stream to the query terms
    # BEFORE the groupBy — the shuffle carries only matching rows
    dfs = (
        corpus.select(
            F.explode(F.array_distinct(toks)).alias("term")
        )
        .filter(F.col("term").isin(query_terms))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    df_map = {r["term"]: r["df"] for r in dfs.collect()}  # ≤ len(query_terms) rows

    scored = per_doc.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i, term in enumerate(query_terms):
        tf = F.col(f"__tf_{i}__").cast("double")
        dfv = F.lit(float(df_map.get(term, 0)))
        idf = (F.col("n_docs") - dfv + 0.5) / (dfv + 0.5)
        sat = (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
        score = score + F.when(tf > 0, idf * sat).otherwise(F.lit(0.0))
    return (
        scored.select(F.col(id_col), F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def tfidf_similar_pairs(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
    max_df: int = 1000,
) -> DataFrame:
    """Pairwise TF-IDF cosine similarity over whitespace tokens:
    (id_a, id_b, cos_sim) with id_a < id_b and cos_sim ≥ threshold,
    rounded to 6.

    Weight w(d,t) = tf(d,t) · idf(t) with the module's RATIONAL idf
    ((N - df + 0.5)/(df + 0.5)) — same cross-engine-determinism
    rationale as bm25_topk; same rank order as log-idf for the
    idf > 0 terms that dominate similarity.

    Plan shape = the shingle-join discipline of ngram_jaccard_pairs
    applied to the term postings list:
    - ONE explode+groupBy builds the (doc, term, tf) postings;
    - document norms aggregate on the postings' doc partitioning;
    - pair dot products come from the postings self-join on term,
      gated by ``max_df`` (a stop-term shared by k docs otherwise
      fans out k² pair rows — the quadratic blowup that kills naive
      similarity joins at corpus scale; norms still use all terms,
      so gated pairs' cosine is an underestimate, the standard
      stop-word tradeoff). The doc-frequency gate is a window pass
      over the same term partitioning the self-join shuffles on."""
    from pyspark.sql import Window

    pinned: list[DataFrame] = []
    postings = (
        corpus.select(
            F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .cache()
    )
    pinned.append(postings)
    # the corpus-wide doc count and the postings cache fill are
    # INDEPENDENT jobs the old shape ran serially (n_docs first, then
    # the weighted fill recomputed postings inside itself): submit
    # both from a 2-thread pool (guide §2.6 — actions are only
    # sequential because driver code calls them sequentially), then
    # fill `weighted` from the already-cached postings. Same rows,
    # same arithmetic; one serialized full-corpus pass removed. Both
    # futures are joined (a failing fill must surface here), and the
    # threads inherit the caller's job group.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    inherit = inheritable_thread_target(corpus.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_ndocs = pool.submit(
            inherit(lambda: corpus.select(F.countDistinct(id_col)).first()[0])
        )
        f_fill = pool.submit(inherit(postings.count))
        n_docs = f_ndocs.result()
        f_fill.result()
    weighted = (
        postings.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .withColumn(
            "w",
            F.col("tf")
            * (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5)),
        )
        .cache()
    )
    pinned.append(weighted)
    # eager fill (see dedup.minhash_lsh_pairs): norms and both
    # self-join sides consume `weighted` inside one job — a lazy
    # cache is empty for all three, re-running the df window per
    # consumer. Pins are scoped to the returned DataFrame's lifetime
    # (session.pin_to_result).
    weighted.count()
    norms = weighted.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    gated = weighted.filter(F.col("df") <= max_df)
    a = gated.select(F.col(id_col).alias("id_a"), "term", F.col("w").alias("w_a"))
    b = gated.select(F.col(id_col).alias("id_b"), "term", F.col("w").alias("w_b"))
    dots = (
        a.join(b, on="term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("norm").alias("n_a"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("norm").alias("n_b"))
    return pin_to_result(
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("cos_sim", F.round(F.col("dot") / (F.col("n_a") * F.col("n_b")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim"),
        pinned,
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    k_rrf: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of two top-k candidate lists — the
    standard hybrid-retrieval combiner (sparse BM25 + dense cosine):

        rrf(d) = Σ_lists 1 / (k_rrf + rank_list(d))

    Inputs are (id, score) frames that are ALREADY top-k bounded by
    their retrievers (bm25_topk / cosine_topk) — candidate lists, not
    corpora. Because both sides are k-sized by contract, the
    unpartitioned row_number window and the full-outer join are
    single-task over k rows no matter the corpus size behind them;
    the expensive work happened in the retrievers, which scale by
    their own plans. Ranks tie-break on id over 6dp-rounded scores,
    so fusion is deterministic and engine-portable.

    Returns (id, rank_a, rank_b, rrf_score) — ranks NULL where a doc
    appears in only one list — ordered by rrf_score desc, id asc,
    limited to ``k``.
    """
    from pyspark.sql import Window

    def _ranks(df: DataFrame, out: str) -> DataFrame:
        w = Window.orderBy(F.desc(score_col), F.asc(id_col))
        return df.select(F.col(id_col), F.row_number().over(w).alias(out))

    ra = _ranks(ranked_a, "rank_a")
    rb = _ranks(ranked_b, "rank_b")
    fused = ra.join(rb, on=id_col, how="full")
    contrib_a = F.coalesce(1.0 / (F.lit(k_rrf) + F.col("rank_a")), F.lit(0.0))
    contrib_b = F.coalesce(1.0 / (F.lit(k_rrf) + F.col("rank_b")), F.lit(0.0))
    return (
        fused.select(
            F.col(id_col),
            F.col("rank_a"),
            F.col("rank_b"),
            F.round(contrib_a + contrib_b, 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


def phrase_search(
    corpus: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase search over whitespace tokens via positional
    postings: a doc matches where phrase[i] occurs at position p+i
    for every i. Returns (id, n_matches) per matching doc.

    Plan shape — the positional inverted-index probe: the token
    stream is posexploded once and FILTERED TO THE PHRASE'S TERMS
    before any shuffle (the isin pushes into the projection), then
    the match is len(phrase)-1 equi-joins on (id, adjusted position)
    between term-sliced postings — each join's inputs are the
    phrase-term postings only, orders of magnitude smaller than the
    corpus. No regex over the raw text (a regex can't use an index
    at scale and backtracks on adversarial input); no window over
    the full token stream."""
    if not phrase:
        raise ValueError("phrase_search needs at least one term")
    postings = corpus.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "term"),
    ).filter(F.col("term").isin(phrase))
    matches = (
        postings.filter(F.col("term") == phrase[0])
        .select(id_col, F.col("pos").alias("p0"))
    )
    for i, term in enumerate(phrase[1:], start=1):
        nxt = postings.filter(F.col("term") == term).select(
            F.col(id_col), (F.col("pos") - i).alias("p0")
        )
        matches = matches.join(nxt, on=[id_col, "p0"])
    return matches.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_matches"))
