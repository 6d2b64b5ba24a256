"""Corpus-cleaning / search / mixing suite queries (driver extension
scope): PII redaction, Gopher-style quality rules, benchmark
decontamination, BM25 keyword ranking, stratified corpus mixing, and
SemDeDup-style semantic dedup. Keys keep the x_ prefix.

Oracles replicate the ALGORITHMS (regex passes, hash arithmetic,
centroid assignment) so the hash comparison checks the distributed
implementation against an independent single-node one. Arithmetic is
written so both engines evaluate the identical IEEE expression tree
(same literals, same association order); see each oracle's notes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mfdb_hafro_etl_spark.catalog import load_table
from mfdb_hafro_etl_spark.operators import cleaning as cl
from mfdb_hafro_etl_spark.operators import sampling as sp
from mfdb_hafro_etl_spark.operators import search as srch
from mfdb_hafro_etl_spark.operators import similarity as sim
from mfdb_hafro_etl_spark.suite import register

# ----------------------------------------------------------- PII redaction
# Synthesize contact prose from customer so every PII shape actually
# occurs (the testdata carries no phone/email columns): an email
# derived from the name, a TPC-H-shaped phone (25-989-741-2988)
# derived from the key, and a 10.x.0.1 address. Both engines build
# the identical string, then count/redact with the identical
# RE2-compatible patterns.
_PHONE_SQL = (
    "concat(CAST(10 + c_custkey % 90 AS VARCHAR), '-', "
    "lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0'), '-', "
    "lpad(CAST(c_custkey * 13 % 1000 AS VARCHAR), 3, '0'), '-', "
    "lpad(CAST(c_custkey * 31 % 10000 AS VARCHAR), 4, '0'))"
)
_PII_TEXT_SQL = (
    "concat('Contact ', c_name, ' <', lower(replace(c_name, ' ', '.')), "
    f"'@example.com> phone ', {_PHONE_SQL}, "
    "' ip 10.', CAST(c_custkey % 256 AS VARCHAR), '.0.1')"
)


def _phone_spark() -> F.Column:
    k = F.col("c_custkey")
    return F.concat(
        (k % 90 + 10).cast("string"),
        F.lit("-"),
        F.lpad((k * 7 % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((k * 13 % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((k * 31 % 10000).cast("string"), 4, "0"),
    )


def _pii_text_spark() -> F.Column:
    return F.concat(
        F.lit("Contact "),
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.regexp_replace(F.col("c_name"), " ", ".")),
        F.lit("@example.com> phone "),
        _phone_spark(),
        F.lit(" ip 10."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit(".0.1"),
    )


@register(
    "x_clean_pii",
    f"""
    WITH t AS (
      SELECT c_custkey, {_PII_TEXT_SQL} AS contact
      FROM customer WHERE c_custkey <= 200
    )
    SELECT c_custkey,
           len(regexp_extract_all(contact, '{cl.PII_PATTERNS["email"][0]}')) AS n_email,
           len(regexp_extract_all(contact, '{cl.PII_PATTERNS["phone"][0]}')) AS n_phone,
           len(regexp_extract_all(contact, '{cl.PII_PATTERNS["ipv4"][0]}')) AS n_ip,
           regexp_replace(regexp_replace(regexp_replace(contact,
             '{cl.PII_PATTERNS["email"][0]}', '<EMAIL>', 'g'),
             '{cl.PII_PATTERNS["phone"][0]}', '<PHONE>', 'g'),
             '{cl.PII_PATTERNS["ipv4"][0]}', '<IP>', 'g') AS redacted
    FROM t
    """,
)
def x_clean_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: count each shape, then chained
    global regexp_replace (one codegen'd projection, no UDF). The
    oracle runs the byte-identical patterns through DuckDB's RE2."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    t = cust.select("c_custkey", _pii_text_spark().alias("contact"))
    return t.select(
        "c_custkey",
        cl.pii_count(F.col("contact"), "email").alias("n_email"),
        cl.pii_count(F.col("contact"), "phone").alias("n_phone"),
        cl.pii_count(F.col("contact"), "ipv4").alias("n_ip"),
        cl.redact_pii(F.col("contact"), ["email", "phone", "ipv4"]).alias("redacted"),
    )


# ------------------------------------------------- Gopher quality rules
@register(
    "x_clean_gopher",
    """
    WITH arr AS (SELECT doc_id, text, string_split(text, ' ') AS a FROM documents),
    bi_all AS (
      SELECT doc_id, concat_ws(' ', a[i], a[i + 1]) AS bg
      FROM arr, unnest(generate_series(1, len(a) - 1)) t(i)
      WHERE len(a) >= 2
    ),
    bi AS (
      SELECT doc_id, MAX(cnt) AS top_bi_cnt
      FROM (SELECT doc_id, bg, COUNT(*) AS cnt FROM bi_all GROUP BY doc_id, bg)
      GROUP BY doc_id
    ),
    m AS (
      SELECT arr.doc_id,
             len(a) AS n_tokens,
             CAST(len(list_distinct(a)) AS DOUBLE) / greatest(len(a), 1) AS ttr,
             CAST(COALESCE(bi.top_bi_cnt, 0) AS DOUBLE)
               / greatest(len(a) - 1, 1) AS top_bigram,
             CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
               / greatest(len(a), 1) AS sym_ratio
      FROM arr LEFT JOIN bi ON arr.doc_id = bi.doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(ttr, 6) AS ttr,
           ROUND(top_bigram, 6) AS top_bigram,
           ROUND(sym_ratio, 6) AS sym_ratio,
           CASE WHEN n_tokens >= 5 AND n_tokens <= 10000
                     AND ttr >= 0.2 AND top_bigram <= 0.25 AND sym_ratio <= 0.5
                THEN 1 ELSE 0 END AS keep
    FROM m
    """,
)
def x_clean_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality metrics + keep verdict per
    document, via the Arrow gopher_metrics_table kernel (map-only,
    no shuffle; byte-identical to the Column formulation — pinned by
    tests/test_corpus_ops.py). The keep verdict applies the rule
    thresholds to the UNROUNDED metrics, as gopher_rules does."""
    docs = load_table(spark, sf_dir, "documents")
    m = cl.gopher_metrics_table(docs, "doc_id", "text")
    keep = (
        (F.col("n_tokens") >= 5)
        & (F.col("n_tokens") <= 10000)
        & (F.col("ttr") >= 0.2)
        & (F.col("top_bigram") <= 0.25)
        & (F.col("sym_ratio") <= 0.5)
    )
    return m.select(
        "doc_id",
        "n_tokens",
        F.round("ttr", 6).alias("ttr"),
        F.round("top_bigram", 6).alias("top_bigram"),
        F.round("sym_ratio", 6).alias("sym_ratio"),
        keep.cast("int").alias("keep"),
    )


# --------------------------------------------- HTML boilerplate strip
# Synthetic crawl page wrapped around each document's text: chrome
# (nav, footer, a short spam block, an all-link block) that the
# link-density + min-length rules must drop, with the prose kept.
# Both engines build the IDENTICAL string, then replay the identical
# rule chain (cleaning.html_main_content's regexes are RE2-compatible
# by construction).
_HTML_PRE = (
    '<html><head><style>p{color:red}</style><script>var x=1;</script>'
    '</head><body><nav><a href="/">Home</a> <a href="/about">About</a> '
    '<a href="/contact">Contact</a></nav><div>'
)
_HTML_MID = '</div><p>spam</p><!-- ad slot --><div><a href="/x">'
_HTML_SUF = (
    '</a></div><footer><a href="/terms">Terms</a> &amp; '
    '<a href="/privacy">Privacy</a> copyright 2024</footer></body></html>'
)

# entity decode exactly as cleaning.HTML_ENTITIES, in order
_ENT_SQL_STEPS = (
    ("&nbsp;", "' '"),
    ("&quot;", "'\"'"),
    ("&#39;", "chr(39)"),
    ("&lt;", "'<'"),
    ("&gt;", "'>'"),
    ("&amp;", "'&'"),
)


def _ent_sql(expr: str) -> str:
    for ent, rep in _ENT_SQL_STEPS:
        expr = f"replace({expr}, '{ent}', {rep})"
    return expr


def _clean_html_oracle() -> str:
    from mfdb_hafro_etl_spark.operators.cleaning import (
        _ANCHOR_PEEL_PASSES,
        HTML_ANCHOR,
        HTML_ANCHOR_BLOCK,
        HTML_BLOCK_SPLIT,
        HTML_TAG,
    )

    txt = _ent_sql(f"regexp_replace(raw, '{HTML_TAG}', ' ', 'g')")
    ltxt = _ent_sql(
        "regexp_replace(array_to_string(regexp_extract_all(raw, "
        f"'{HTML_ANCHOR}', 1), ' '), '{HTML_TAG}', ' ', 'g')"
    )
    # anchor peel, mirrored: same pattern, same pass count (DuckDB
    # backrefs are \1 where Spark's are $1 — same semantics)
    peeled = (
        "regexp_replace(regexp_replace(regexp_replace(html,"
        " '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),"
        " '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),"
        " '(?s)<!--.*?-->', ' ', 'g')"
    )
    for _ in range(_ANCHOR_PEEL_PASSES):
        peeled = f"regexp_replace({peeled}, '{HTML_ANCHOR_BLOCK}', '\\1 ', 'g')"
    return f"""
    WITH src AS (
      SELECT doc_id,
             '{_HTML_PRE}' || text || '{_HTML_MID}'
               || substr(text, 1, 40) || '{_HTML_SUF}' AS html
      FROM documents
    ),
    pre AS (
      SELECT doc_id, {peeled} AS h
      FROM src
    ),
    blocks AS (
      SELECT doc_id, regexp_split_to_array(h, '{HTML_BLOCK_SPLIT}') AS bs
      FROM pre
    ),
    b AS (
      SELECT doc_id, i, bs[i] AS raw
      FROM blocks, unnest(generate_series(1, len(bs))) u(i)
    ),
    m AS (
      SELECT doc_id, i,
        trim(regexp_replace({txt}, '[ \t\r\n]+', ' ', 'g')) AS txt,
        COALESCE(trim(regexp_replace({ltxt}, '[ \t\r\n]+', ' ', 'g')), '') AS ltxt
      FROM b
    ),
    agg AS (
      SELECT doc_id, string_agg(txt, ' ' ORDER BY i) AS joined
      FROM m
      WHERE length(txt) >= 30
        AND CAST(length(ltxt) AS DOUBLE) <= 0.30 * CAST(length(txt) AS DOUBLE)
      GROUP BY doc_id
    )
    SELECT s.doc_id, COALESCE(agg.joined, '') AS main_txt,
           length(COALESCE(agg.joined, '')) AS n_chars
    FROM src s LEFT JOIN agg ON s.doc_id = agg.doc_id
    """


@register("x_clean_html", _clean_html_oracle())
def x_clean_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate strip (cleaning.html_main_content): rule-based
    main-content extraction — block split on block-level tags, per-
    block link-density + min-length gates, kept blocks rejoined in
    document order. Narrow Column algebra: one codegen'd projection
    per row, no shuffle, scales with the scan. The oracle replays the
    identical regex/arithmetic chain through DuckDB's RE2 on the
    identically-built fixture page."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_HTML_PRE),
        F.col("text"),
        F.lit(_HTML_MID),
        F.substring(F.col("text"), 1, 40),
        F.lit(_HTML_SUF),
    )
    return docs.select(
        "doc_id", cl.html_main_content(html).alias("main_txt")
    ).withColumn("n_chars", F.length("main_txt"))


# ------------------------------------------------------ URL dedup
# Synthetic crawl URLs: consecutive doc pairs (doc_id DIV 2) get two
# messy spellings of the SAME resource — tracking params + fragment +
# default port + WWW/case noise + duplicate/trailing slashes — so the
# canonicalizer must collapse exactly the intended pairs. Both
# engines build the identical string, then replay the identical
# RE2-compatible canonicalization chain (cleaning.canonicalize_url).
_URL_SCHEME_SQL = "^[A-Za-z][A-Za-z0-9+.-]*://"


def _clean_urldedup_oracle() -> str:
    from mfdb_hafro_etl_spark.operators.cleaning import URL_TRACKING_PARAM

    return f"""
    WITH src AS (
      SELECT doc_id,
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN 'https://WWW.Example-' || CAST((doc_id // 2) % 50 AS VARCHAR)
                      || '.COM:443/a/' || CAST(doc_id // 2 AS VARCHAR)
                      || '/?utm_source=x&b=2&a=1#frag'
          WHEN 1 THEN 'https://example-' || CAST((doc_id // 2) % 50 AS VARCHAR)
                      || '.com/a/' || CAST(doc_id // 2 AS VARCHAR) || '?a=1&b=2'
          WHEN 2 THEN 'HTTP://News.Site.org:80//p/' || CAST(doc_id // 2 AS VARCHAR)
                      || '/?gclid=abc&q=term'
          ELSE 'http://news.site.org/p/' || CAST(doc_id // 2 AS VARCHAR) || '?q=term'
        END AS url
      FROM documents
    ),
    p1 AS (
      SELECT doc_id, regexp_replace(trim(url), '#[\\s\\S]*', '') AS nofrag FROM src
    ),
    p2 AS (
      SELECT doc_id,
        lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        regexp_extract(regexp_extract(nofrag, '{_URL_SCHEME_SQL}([^/?#]*)', 1),
                       '^(.*@)', 1) AS userinfo,
        lower(regexp_replace(regexp_extract(nofrag, '{_URL_SCHEME_SQL}([^/?#]*)', 1),
                             '^.*@', '')) AS hostport,
        regexp_extract(nofrag, '{_URL_SCHEME_SQL}[^/?#]*([^?#]*)', 1) AS rawpath,
        regexp_extract(nofrag, '\\?([^#]*)', 1) AS query
      FROM p1
    ),
    p3 AS (
      SELECT doc_id, scheme, userinfo,
        regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''), '^(www\\.)+', '') AS host,
        regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        CASE WHEN regexp_replace(regexp_replace(rawpath, '//+', '/', 'g'), '/+$', '') = ''
             THEN '/'
             ELSE regexp_replace(regexp_replace(rawpath, '//+', '/', 'g'), '/+$', '')
        END AS path,
        array_to_string(list_sort(list_filter(string_split(query, '&'),
          p -> p <> '' AND NOT regexp_matches(p, '{URL_TRACKING_PARAM}'))), '&') AS qs
      FROM p2
    ),
    canon AS (
      SELECT doc_id,
        scheme || '://' || userinfo || host
          || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                    OR (scheme = 'https' AND port = '443')
                  THEN '' ELSE ':' || port END
          || path
          || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canonical_url
      FROM p3
    )
    SELECT canonical_url, MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes
    FROM canon GROUP BY canonical_url
    """


@register("x_clean_urldedup", _clean_urldedup_oracle())
def x_clean_urldedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup (cleaning.canonicalize_url + url_dedup):
    fragment/tracking-param/default-port/www/case/slash noise
    collapsed to one canonical key per resource, then a single hash
    aggregation keeps the smallest doc id per key — the cheapest
    first dedup of any crawl pipeline, run on the frontier before
    anything is fetched twice. Pure codegen'd Column algebra; only
    the group-by shuffles (one narrow row per URL). The oracle
    replays the identical regex/array chain through DuckDB RE2 on
    the identically-built fixture URLs."""
    docs = load_table(spark, sf_dir, "documents")
    b = F.expr("doc_id DIV 2").cast("string")
    hostn = F.expr("(doc_id DIV 2) % 50").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("https://WWW.Example-"), hostn, F.lit(".COM:443/a/"),
                b, F.lit("/?utm_source=x&b=2&a=1#frag"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("https://example-"), hostn, F.lit(".com/a/"),
                b, F.lit("?a=1&b=2"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("HTTP://News.Site.org:80//p/"), b, F.lit("/?gclid=abc&q=term"),
            ),
        )
        .otherwise(
            F.concat(F.lit("http://news.site.org/p/"), b, F.lit("?q=term"))
        )
    )
    return cl.url_dedup(
        docs.select("doc_id", url.alias("url")), "url", "doc_id"
    )


# ----------------------------------------------- intra-doc repetition
@register(
    "x_clean_repeats",
    """
    WITH fx AS (
      SELECT doc_id,
             substr(text, 1, 25) || '|' || substr(text, 27, 25) || '|'
             || substr(text, 1, 25) || '|' || substr(text, 53, 25) || '|'
             || substr(text, 27, 25) AS t
      FROM documents
    ),
    arr AS (SELECT doc_id, string_split(t, '|') AS a FROM fx),
    kept AS (
      SELECT doc_id,
             array_to_string(
               list_filter(a, (x, i) -> list_position(a, x) = i), '|') AS cleaned
      FROM arr
    )
    SELECT doc_id, cleaned,
           len(string_split(cleaned, '|')) AS n_units
    FROM kept
    """,
)
def x_clean_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-unit removal
    (cleaning.remove_repeated_units): the fixture interleaves two
    repeated slices of each document among distinct ones; first
    occurrences survive in order, repeats drop — the classic crawl
    step for nav strings / cookie banners repeated inside one page.
    One codegen'd array projection per row, no shuffle; the oracle
    replays the identical first-occurrence rule via list_position."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    fx = F.concat_ws(
        "|",
        F.substring(t, 1, 25),
        F.substring(t, 27, 25),
        F.substring(t, 1, 25),
        F.substring(t, 53, 25),
        F.substring(t, 27, 25),
    )
    cleaned = cl.remove_repeated_units(fx, sep="|")
    return docs.select("doc_id", cleaned.alias("cleaned")).withColumn(
        "n_units", F.size(F.split(F.col("cleaned"), r"\|"))
    )


# ------------------------------------------------------ decontamination
@register(
    "x_clean_decontam",
    """
    WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(a, i, i + 2), ' ') AS shingle
           FROM arr, unnest(generate_series(1, len(a) - 2)) t(i)
           WHERE len(a) >= 3),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 41 = 0)
    SELECT s.doc_id, COUNT(*) AS n_shared_ngrams
    FROM sh s JOIN ev USING (shingle)
    GROUP BY s.doc_id
    HAVING COUNT(*) >= 3
    """,
)
def x_clean_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing ≥ 3
    distinct word-3-grams with the 'eval set' (docs with id % 41 = 0,
    standing in for a benchmark). Eval shingles broadcast; the corpus
    side never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 41 == 0)
    return cl.decontaminate(
        docs, eval_set, id_col="doc_id", text_col="text", n=3, min_shared=3
    )


# ------------------------------------------------------------ BM25 search
_BM25_TERMS = ["spark", "query", "join"]


def _bm25_sql(terms: list[str], k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    # mirror search.bm25_topk's expression tree exactly: same literal
    # values ((k1+1), (1-b) precomputed), same left-assoc sum order
    tf_cols = ", ".join(
        f"CAST(len(list_filter(a, x -> x = '{t}')) AS DOUBLE) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_ctes = ", ".join(
        f"df{i} AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM arr "
        f"WHERE list_contains(a, '{t}'))"
        for i, t in enumerate(terms)
    )
    qlit = "[" + ", ".join(f"'{t}'" for t in terms) + "]"
    score_terms = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN "
        f"((n_docs - df{i}.v + 0.5) / (df{i}.v + 0.5)) * "
        f"((tf{i} * {k1 + 1!r}) / (tf{i} + {k1} * ({1 - b!r} + ({b} * dl) / avgdl))) "
        f"ELSE 0.0 END)"
        for i in range(len(terms))
    )
    df_from = ", ".join(f"df{i}" for i in range(len(terms)))
    return f"""
    WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                  AVG(CAST(len(a) AS DOUBLE)) AS avgdl FROM arr),
    {df_ctes},
    per_doc AS (
      SELECT doc_id, len(a) AS dl, {tf_cols}
      FROM arr WHERE len(list_intersect(a, {qlit})) > 0
    )
    SELECT doc_id, ROUND(0.0 + {score_terms}, 6) AS score
    FROM per_doc, st, {df_from}
    ORDER BY score DESC, doc_id LIMIT {k}
    """


@register("x_search_bm25", _bm25_sql(_BM25_TERMS))
def x_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-shaped top-10 for a bag-of-words query (rational idf —
    operators/search.py module docstring). Per-doc tf is array
    algebra, corpus stats join in as broadcasts; the only shuffle is
    the term-filtered df groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    return srch.bm25_topk(docs, _BM25_TERMS, k=10, id_col="doc_id", text_col="text")


@register(
    "x_search_termstats",
    """
    WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    t AS (SELECT doc_id, unnest(list_distinct(a)) AS term FROM arr)
    SELECT term, COUNT(*) AS df FROM t GROUP BY term
    ORDER BY df DESC, term LIMIT 20
    """,
)
def x_search_termstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency table (the inverted-index build pass): one
    explode+groupBy over distinct per-doc tokens; top-20 by df for a
    bounded, deterministic check."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        srch.term_stats(docs, "doc_id", "text")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
    )


# ------------------------------------------------- stratified corpus mix
_STRATA_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_STRATA_DEFAULT = 0.05


@register(
    "x_sample_stratified",
    f"""
    WITH u AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5('mix1' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               / CAST(16 ** 15 AS DOUBLE) AS unit
      FROM documents
    )
    SELECT source, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM u
    WHERE unit < (CASE source
                    WHEN 'src0' THEN {_STRATA_RATES["src0"]}
                    WHEN 'src1' THEN {_STRATA_RATES["src1"]}
                    WHEN 'src2' THEN {_STRATA_RATES["src2"]}
                    WHEN 'src3' THEN {_STRATA_RATES["src3"]}
                    ELSE {_STRATA_DEFAULT} END)
    GROUP BY source
    """,
)
def x_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus mixing ('keep 100% of src0,
    50% of src1, ... 5% of the rest'): membership is a pure function
    of md5(salt||id) so the mix is reproducible across engines and
    partitionings; the rate lookup is a literal CASE — one codegen'd
    filter, no join, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    out = sp.stratified_sample(
        docs, "doc_id", "source", _STRATA_RATES,
        default_rate=_STRATA_DEFAULT, salt="mix1",
    )
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# -------------------------------------------------------- semantic dedup
@register(
    "x_semantic_dedup",
    """
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
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
    dup AS (
      SELECT b.vec_id AS id_b, MIN(a.vec_id) AS dup_of
      FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
      GROUP BY b.vec_id
    )
    SELECT e.vec_id,
           CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS kept,
           d.dup_of
    FROM emb e LEFT JOIN dup d ON e.vec_id = d.id_b
    """,
)
def x_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup: IVF-cluster the embeddings
    (same deterministic centroids as x_ann_ivf_topk), mark every
    vector with a ≥ 0.4-cosine LOWER-id neighbor in its cluster as a
    duplicate. The cluster key turns all-pairs into per-cluster
    blocks — the published SemDeDup recipe."""
    emb = load_table(spark, sf_dir, "embeddings")
    # kmeans_iters=0 pins seed centroids for oracle parity
    out = sim.semantic_dedup(emb, threshold=0.4, n_centroids=16, kmeans_iters=0)
    return out.select(
        "vec_id", F.col("kept").cast("int").alias("kept"), "dup_of"
    )


@register("x_semantic_dedup_auto")
def x_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPERATOR-DEFAULT semantic dedup (n_centroids=None): k
    derives from a count — max(16, min(ceil(N/4096), ceil(sqrt(N))))
    — so clusters stay ~4096 rows and total within-cluster work
    stays ~N·4096 at any corpus size.

    This arm exists as the EMPIRICAL linearity evidence for that
    default: the oracle-parity arm (x_semantic_dedup) must pin k=16
    so DuckDB can replicate the clustering bit-exactly, which makes
    ITS wall grow ~quadratically with rows (annotated in
    scale_bench.EXPECTED_SUPERLINEAR) — leaving the default's
    near-linear claim unmeasured until this arm. scale_bench runs
    every suite query at 1×/10×/100× data, so the committed artifact
    carries this arm's actual growth curve. No SQL oracle: a
    Lloyd-refined auto-k clustering is not bit-replicable in
    DuckDB; correctness of the shared kernel is covered by
    x_semantic_dedup and the unit/property tests. Output is a tiny
    per-run summary so timing measures compute, not row transfer."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = sim.semantic_dedup(emb, threshold=0.4, n_centroids=None)
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.count("dup_of").alias("n_dups"),
        F.min("dup_of").alias("min_dup_of"),
    )


# ------------------------------------------------ hybrid retrieval (RRF)
_RRF_SQL = f"""
    WITH bm AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
      FROM ( {_bm25_sql(_BM25_TERMS, k=20)} ) t
    ),
    dn AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS r
      FROM (
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id AS doc_id,
               ROUND(
                 list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
                 (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
        FROM embeddings e, q WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, doc_id LIMIT 20
      ) t
    )
    SELECT COALESCE(bm.doc_id, dn.doc_id) AS doc_id,
           bm.r AS rank_a, dn.r AS rank_b,
           ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + bm.r), 0.0) +
                 COALESCE(CAST(1.0 AS DOUBLE) / (60 + dn.r), 0.0), 6) AS rrf_score
    FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.doc_id
    ORDER BY rrf_score DESC, doc_id LIMIT 10
"""


@register("x_search_hybrid_rrf", _RRF_SQL)
def x_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 (sparse) and cosine (dense) top-20
    candidate lists fused with reciprocal-rank fusion (k_rrf=60) —
    the standard RAG retrieval combiner. The expensive work happens
    in the two retrievers (each with its own scale-safe plan); the
    fusion itself is a single-task full-outer join over two k-sized
    lists. The oracle recomputes both rank lists and the identical
    1/(60+r) sums."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    bm = srch.bm25_topk(docs, _BM25_TERMS, k=20)
    dn = sim.cosine_topk(emb, list(qvec), k=20, exclude_id=0).select(
        F.col("vec_id").alias("doc_id"), F.col("cos_sim").alias("score")
    )
    return srch.rrf_fuse(bm, dn, id_col="doc_id", score_col="score", k_rrf=60, k=10)


# ---------------------------------------------- temperature mixing
@register(
    "x_sample_temperature",
    """
    WITH n AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS ns FROM documents GROUP BY source),
    tot AS (SELECT SUM(ns) AS N, SUM(sqrt(ns)) AS Z FROM n),
    r AS (SELECT source,
                 FLOOR(LEAST(1.0, 0.5 * N * (sqrt(ns) / Z) / ns) * 1000000.0 + 0.5)
                   / 1000000.0 AS rate
          FROM n, tot),
    kept AS (
      SELECT d.source, d.doc_id
      FROM documents d JOIN r ON d.source = r.source
      WHERE CAST(concat('0x', substr(md5('tmix' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              / CAST(16 ** 15 AS DOUBLE) < rate
    )
    SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM kept GROUP BY source
    """,
)
def x_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (p_s ∝ n_s^(1/T), T=2,
    target_frac=0.5): one policy-sized count aggregation derives the
    per-source keep rates, then membership is the same codegen'd
    hash-unit filter as every sampling operator — no join, no
    shuffle on the corpus side. T=2 keeps the power a correctly-
    rounded sqrt on both engines; rates quantize via the same
    floor(x*1e6+0.5)/1e6 construction on both sides
    (operators/sampling.py:temperature_rates) — NOT ROUND(), whose
    shortest-decimal-vs-exact-binary tie handling differs between
    engines. Ordering note: the operator sums Z with math.fsum over
    sorted sources while the oracle uses SUM(sqrt(ns)); source
    cardinality is policy-sized (a handful here, thousands at most
    in production) so the summation-order ulp noise is far below
    the 1e-6 quantum, and the matching floor form absorbs it."""
    docs = load_table(spark, sf_dir, "documents")
    kept = sp.temperature_sample(
        docs, "doc_id", "source", temperature=2.0, target_frac=0.5, salt="tmix"
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# ------------------------------------------------ exact phrase search
@register(
    "x_search_phrase",
    """
    WITH post AS (
      SELECT doc_id, a[i] AS term, CAST(i AS BIGINT) - 1 AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents) t,
           unnest(generate_series(1, len(a))) u(i)
      WHERE a[i] IN ('data', 'spark')
    ),
    m AS (
      SELECT a.doc_id, a.pos AS p0
      FROM post a JOIN post b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      WHERE a.term = 'data' AND b.term = 'spark'
    )
    SELECT doc_id, COUNT(*) AS n_matches FROM m GROUP BY doc_id
    """,
)
def x_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ('data spark') via positional postings —
    term-filtered before any shuffle, one adjacency equi-join per
    phrase gap, no regex over raw text
    (operators/search.py:phrase_search). The oracle replays the
    identical positional join."""
    docs = load_table(spark, sf_dir, "documents")
    return srch.phrase_search(docs, ["data", "spark"], "doc_id", "text")


# -------------------------------------------- BPE tokenizer training
def _bpe_cte_prefix(n: int = 5) -> str:
    """Shared CTE prefix for the BPE oracles: learn ``n`` merges with
    n rounds of pair counting via positional adjacency self-join + a
    recursive-CTE greedy left-to-right fold (the exact semantics of
    the Spark side's aggregate() fold — element-exact symbol
    comparisons, no substring false-positives). Exposes top{k}
    (the k-th merge) and lists{k} (the vocabulary segmentation AFTER
    k merges — lists{n} is what bpe_encode applies to a corpus).
    Round CTEs are MATERIALIZED: DuckDB otherwise inlines each
    reference, and five chained rounds re-evaluate transitively —
    measured as an EMFILE blowup from re-opening the parquet once
    per leaf of the expansion tree."""
    parts = [
        """WITH RECURSIVE words AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    lists0 AS MATERIALIZED (SELECT word, freq,
                      string_split(rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')), ' ') AS toks
               FROM words)"""
    ]
    for k in range(n):
        parts.append(f""",
    toks{k} AS MATERIALIZED (SELECT l.word, l.freq, l.toks[i] AS tok, i
                FROM lists{k} l, unnest(generate_series(1, len(l.toks))) u(i)),
    pairs{k} AS (SELECT a.tok || ' ' || b.tok AS pair, SUM(a.freq) AS freq
                 FROM toks{k} a JOIN toks{k} b ON a.word = b.word AND b.i = a.i + 1
                 GROUP BY 1),
    top{k} AS MATERIALIZED (SELECT pair, split_part(pair, ' ', 1) AS x,
                      split_part(pair, ' ', 2) AS y, freq
               FROM pairs{k} ORDER BY freq DESC, pair LIMIT 1),
    fold{k} AS (
      SELECT word, freq, toks, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM lists{k}
      UNION ALL
      SELECT word, freq, toks,
        CASE WHEN i < len(toks) AND toks[i] = (SELECT x FROM top{k})
                  AND toks[i+1] = (SELECT y FROM top{k})
             THEN i + 2 ELSE i + 1 END,
        CASE WHEN i < len(toks) AND toks[i] = (SELECT x FROM top{k})
                  AND toks[i+1] = (SELECT y FROM top{k})
             THEN list_append(acc, (SELECT x || y FROM top{k}))
             ELSE list_append(acc, toks[i]) END
      FROM fold{k} WHERE i <= len(toks)
    ),
    lists{k + 1} AS MATERIALIZED (SELECT word, freq, acc AS toks
                     FROM fold{k} WHERE i = len(toks) + 1)""")
    return "".join(parts)


def _bpe_oracle_sql(n: int = 5) -> str:
    """Oracle for bpe_train: the learned merges, one row per rank."""
    sel = "\nUNION ALL\n".join(
        f"SELECT {k + 1} AS rank, pair, freq FROM top{k}" for k in range(n)
    )
    return _bpe_cte_prefix(n) + "\n" + sel


def _bpe_encode_oracle_sql(n: int = 5) -> str:
    """Oracle for bpe_encode over the documents corpus: re-learn the
    same ``n`` merges (shared prefix), then tokenize every document
    by joining its positional word list against the final vocabulary
    segmentation lists{n} — per-word token lists concatenated in
    document order. Verifies the full encode semantics (the
    sequential-by-rank application bpe_encode's priority loop is
    provably equivalent to) value-by-value: token counts AND the
    space-joined token stream."""
    return (
        _bpe_cte_prefix(n)
        + f""",
    docw AS (
      SELECT doc_id, i, ws[i] AS word
      FROM (SELECT doc_id,
                   string_split_regex(lower(text), '\\s+') AS ws
            FROM documents) d,
           unnest(generate_series(1, len(ws))) u(i)
      WHERE ws[i] <> ''
    )
    SELECT d.doc_id,
           CAST(SUM(len(l.toks)) AS BIGINT) AS n_tokens,
           string_agg(array_to_string(l.toks, ' '), ' ' ORDER BY d.i) AS encoded
    FROM docw d JOIN lists{n} l USING (word)
    GROUP BY d.doc_id"""
    )


@register("x_bpe_train", _bpe_oracle_sql(5))
def x_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training over the corpus: the 5
    highest-frequency adjacent-symbol merges, greedy left-to-right
    re-segmentation per round, ties by pair string
    (operators/text.py:bpe_train). One corpus-scale shuffle total
    (the distinct-word frequency table); every merge round is
    vocabulary-sized — the shape that trains a tokenizer on 100 TB
    without ever re-reading the corpus. The oracle replays the exact
    fold with recursive CTEs."""
    from mfdb_hafro_etl_spark.operators import text as tx

    docs = load_table(spark, sf_dir, "documents")
    return tx.bpe_train(docs, "text", n_merges=5)


@register("x_bpe_encode", _bpe_encode_oracle_sql(5))
def x_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY: train 5 merges on the corpus
    (operators/text.py:bpe_train), then tokenize every document with
    them (operators/text.py:bpe_encode — broadcast-by-value merge
    table, map-only Arrow kernel with a per-task word memo). The
    oracle re-learns the same merges in SQL and re-tokenizes by
    joining document word positions against the final vocabulary
    segmentation, so token counts AND the full token stream are
    value-verified. Docs with no words drop on both sides (the
    oracle's inner join; the size()>0 filter here)."""
    from mfdb_hafro_etl_spark.operators import text as tx

    docs = load_table(spark, sf_dir, "documents")
    merges = tx.bpe_train(docs, "text", n_merges=5)
    enc = tx.bpe_encode(docs, merges, "doc_id", "text")
    return enc.filter(F.size("tokens") > 0).select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.array_join("tokens", " ").alias("encoded"),
    )


# ------------------------------------------- LM perplexity quality filter
# CCNet-style (Wenzek et al. 2020): train a bigram Kneser-Ney LM on the
# "clean" slice of the corpus (doc_id % 5 > 0 — in production the
# reference corpus is a separate curated table), score EVERY document's
# perplexity under it, bucket head/middle/tail by fixed cutoffs (CCNet
# applies per-language constants computed once). The oracle re-derives
# the entire model — vocabulary, unk-mapped bigram counts, continuation
# counts, the Ney-Essen-Kneser discount — and replays the identical
# IEEE probability expression (same literals, same association), so the
# hash verifies training AND scoring end-to-end. Thresholds 29.2/30.1
# sit between fixture percentiles at every sf (p33≈29.15, p67≈30.10),
# far from any document's rounded value.
_LM_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents
),
flat AS (
  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
  FROM tok WHERE len(toks) > 0
),
tflat AS (SELECT * FROM flat WHERE doc_id % 5 > 0),
uni AS (SELECT w, count(*) AS cnt FROM tflat GROUP BY w),
vocab AS (SELECT w FROM uni WHERE cnt >= 2),
tpairs AS (
  SELECT CASE WHEN p.c = '<s>' THEN '<s>' ELSE coalesce(vc.w, '<unk>') END AS c,
         coalesce(vw.w, '<unk>') AS w
  FROM (
    SELECT doc_id, w,
           coalesce(lag(w) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS c
    FROM tflat
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
st AS (
  SELECT (SELECT count(*) FROM bigrams) AS n_types,
         (SELECT count(*) FROM vocab) AS vsize,
         (SELECT count(*) FROM bigrams WHERE cnt = 1) AS n1,
         (SELECT count(*) FROM bigrams WHERE cnt = 2) AS n2
),
std AS (
  SELECT n_types,
         CASE WHEN n1 + 2 * n2 > 0 THEN n1 / (n1 + 2 * n2) ELSE 0.75 END AS d,
         1.0 / (vsize + 1) AS floor_p
  FROM st
),
spairs AS (
  SELECT p.doc_id,
         CASE WHEN p.c = '<s>' THEN '<s>' ELSE coalesce(vc.w, '<unk>') END AS c,
         coalesce(vw.w, '<unk>') AS w
  FROM (
    SELECT doc_id, w,
           coalesce(lag(w) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS c
    FROM flat
  ) p
  LEFT JOIN vocab vc ON p.c = vc.w
  LEFT JOIN vocab vw ON p.w = vw.w
),
praw AS (
  SELECT s.doc_id, std.floor_p,
         CASE WHEN cx.cnt_c IS NULL THEN
                CASE WHEN coalesce(ct.n_prec, 0) / std.n_types > 0
                     THEN coalesce(ct.n_prec, 0) / std.n_types
                     ELSE std.floor_p END
              ELSE greatest(coalesce(bg.cnt, 0) - std.d, 0.0) / cx.cnt_c
                   + (std.d * cx.n_succ / cx.cnt_c) *
                     CASE WHEN coalesce(ct.n_prec, 0) / std.n_types > 0
                          THEN coalesce(ct.n_prec, 0) / std.n_types
                          ELSE std.floor_p END
         END AS p_raw
  FROM spairs s
  CROSS JOIN std
  LEFT JOIN bigrams bg ON s.c = bg.c AND s.w = bg.w
  LEFT JOIN contexts cx ON s.c = cx.c
  LEFT JOIN cont ct ON s.w = ct.w
),
-- D == 0 total-score floor (mirrors lm.perplexity): never fires for
-- D > 0, value-identical IEEE tree on this fixture
probs AS (
  SELECT doc_id,
         CASE WHEN p_raw > 0 THEN p_raw ELSE floor_p END AS p
  FROM praw
),
agg AS (
  SELECT doc_id, count(*) AS n_tokens, sum(ln(p)) AS logprob
  FROM probs GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0) AS n_tokens,
       round(exp(-a.logprob / a.n_tokens), 6) AS ppl,
       CASE WHEN round(exp(-a.logprob / a.n_tokens), 6) IS NULL THEN 'tail'
            WHEN round(exp(-a.logprob / a.n_tokens), 6) < 29.2 THEN 'head'
            WHEN round(exp(-a.logprob / a.n_tokens), 6) < 30.1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM documents d
LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


@register("x_lm_perplexity", _LM_SQL)
def x_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality filter end-to-end
    (operators/lm.py:train_kn(order=2) + perplexity + ppl_bucket):
    train on the clean slice, score the whole corpus, bucket by fixed
    cutoffs. The model's type-sized aggregates are cached for the
    scoring plan's three model joins, with the pin scoped to the
    RETURNED DataFrame's lifetime (session.pin_to_result, the r7
    eager-cache contract) so bench loops don't accumulate cache."""
    from mfdb_hafro_etl_spark.operators import lm as lmod
    from mfdb_hafro_etl_spark.session import pin_to_result

    docs = load_table(spark, sf_dir, "documents")
    m = lmod.train_kn(docs.filter(F.col("doc_id") % 5 > 0), 2)
    scored = lmod.perplexity(docs, m)
    ppl_r = F.round("ppl", 6)
    out = scored.select(
        "doc_id",
        "n_tokens",
        ppl_r.alias("ppl"),
        lmod.ppl_bucket(ppl_r, 29.2, 30.1).alias("bucket"),
    )
    return pin_to_result(out, list(m.tables))


# ------------------------------------------- trigram KN quality filter
# The INTERPOLATED TRIGRAM Kneser-Ney scorer (operators/lm.py:
# train_kn(order=3) + perplexity — Chen & Goodman 1999 §4: raw counts
# at the highest order, CONTINUATION counts at the middle order, the
# unigram continuation distribution at the bottom, per-order
# Ney-Essen-Kneser discounts). The oracle re-derives the ENTIRE model
# — vocabulary, unk-mapped trigram counts, both continuation tables,
# both discounts — and replays the identical depth-3 IEEE CASE (same
# literals, same association: each level's seen branch is
# greatest(c - D, 0)/total + (D * n_succ / total) * p_lower, with the
# bigram oracle's D == 0 total-score floor applied once at the top).
# Bucket thresholds are CORPUS TERCILES derived on both sides from
# the already-hash-verified 6dp-rounded ppl (Spark: exact
# F.percentile via lm.ppl_thresholds; oracle: quantile_cont) — r10
# pinned sf0.01 constants whose head bucket emptied as the ppl
# distribution shifted right with corpus size (r10 verdict next #6).
# Parity rests on both engines interpolating over the IDENTICAL
# multiset of rounded doubles with the same q = 1.0/3 literals: the
# threshold is either exactly a data value (tie/integer rank,
# identical in both engines) or strictly inside the open gap between
# two adjacent distinct rounded values, where no document value can
# sit. Residual caveat (r11 ADVICE low): the engines associate the
# interpolation differently (Spark a + f*(b-a) vs DuckDB
# (1-f)*a + f*b), so when f*(b-a) underflows below ulp(a)/2 one side
# can return exactly a while the other returns nextafter(a), and
# strict < then flips value-a rows — a last-ulp tie case that 6dp
# rounding makes astronomically unlikely (gaps here are >= 1e-6)
# but not impossible in general; bucketing on rank (ntile over the
# rounded ppl) would make it airtight if it ever bites.
# tri / cont2 / vocab are AS MATERIALIZED: each is referenced 3-5
# times above an expensive subtree, the exact CTE shape that cost a
# 10-min re-evaluation timeout vs 0.7 s materialized in the r10 combo
# work (r10 verdict wrong #3).
_LM3_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents
),
flat AS (
  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
  FROM tok WHERE len(toks) > 0
),
tflat AS (SELECT * FROM flat WHERE doc_id % 5 > 0),
uni AS (SELECT w, count(*) AS cnt FROM tflat GROUP BY w),
vocab AS MATERIALIZED (SELECT w FROM uni WHERE cnt >= 2),
ttrip AS (
  SELECT CASE WHEN t.u = '<s>' THEN '<s>' ELSE coalesce(vu.w, '<unk>') END AS u,
         CASE WHEN t.v = '<s>' THEN '<s>' ELSE coalesce(vv.w, '<unk>') END AS v,
         coalesce(vw.w, '<unk>') AS w
  FROM (
    SELECT doc_id, w,
           coalesce(lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS u,
           coalesce(lag(w, 1) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS v
    FROM tflat
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
st AS (
  SELECT (SELECT count(*) FROM cont2) AS n_bitypes,
         (SELECT count(*) FROM vocab) AS vsize,
         (SELECT count(*) FROM tri WHERE cnt = 1) AS n1_3,
         (SELECT count(*) FROM tri WHERE cnt = 2) AS n2_3,
         (SELECT count(*) FROM cont2 WHERE ckn = 1) AS n1_2,
         (SELECT count(*) FROM cont2 WHERE ckn = 2) AS n2_2
),
std AS (
  SELECT n_bitypes,
         CASE WHEN n1_3 + 2 * n2_3 > 0 THEN n1_3 / (n1_3 + 2 * n2_3) ELSE 0.75 END AS d3,
         CASE WHEN n1_2 + 2 * n2_2 > 0 THEN n1_2 / (n1_2 + 2 * n2_2) ELSE 0.75 END AS d2,
         1.0 / (vsize + 1) AS floor_p
  FROM st
),
strip AS (
  SELECT t.doc_id,
         CASE WHEN t.u = '<s>' THEN '<s>' ELSE coalesce(vu.w, '<unk>') END AS u,
         CASE WHEN t.v = '<s>' THEN '<s>' ELSE coalesce(vv.w, '<unk>') END AS v,
         coalesce(vw.w, '<unk>') AS w
  FROM (
    SELECT doc_id, w,
           coalesce(lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS u,
           coalesce(lag(w, 1) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS v
    FROM flat
  ) t
  LEFT JOIN vocab vu ON t.u = vu.w
  LEFT JOIN vocab vv ON t.v = vv.w
  LEFT JOIN vocab vw ON t.w = vw.w
),
pl1 AS (
  SELECT s.doc_id, std.floor_p, std.d2, std.d3,
         tg.cnt, x3.cnt_uv, x3.n_succ3,
         c2.ckn, x2.ckn_v, x2.n_succ2,
         CASE WHEN coalesce(c1.n_prec, 0) / std.n_bitypes > 0
              THEN coalesce(c1.n_prec, 0) / std.n_bitypes
              ELSE std.floor_p END AS p_cont
  FROM strip s
  CROSS JOIN std
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
probs AS (
  SELECT doc_id,
         CASE WHEN p_raw > 0 THEN p_raw ELSE floor_p END AS p
  FROM pl3
),
agg AS (
  SELECT doc_id, count(*) AS n_tokens, sum(ln(p)) AS logprob
  FROM probs GROUP BY doc_id
),
sc AS MATERIALIZED (
  SELECT doc_id, n_tokens, round(exp(-logprob / n_tokens), 6) AS ppl
  FROM agg
),
thr AS (
  SELECT quantile_cont(ppl, 1.0 / 3) AS head_max,
         quantile_cont(ppl, 2.0 / 3) AS tail_min
  FROM sc WHERE ppl IS NOT NULL
)
SELECT d.doc_id,
       coalesce(s.n_tokens, 0) AS n_tokens,
       s.ppl AS ppl,
       CASE WHEN s.ppl IS NULL THEN 'tail'
            WHEN s.ppl < thr.head_max THEN 'head'
            WHEN s.ppl < thr.tail_min THEN 'middle'
            ELSE 'tail' END AS bucket
FROM documents d
LEFT JOIN sc s ON d.doc_id = s.doc_id
CROSS JOIN thr
"""


@register("x_lm3_perplexity", _LM3_SQL)
def x_lm3_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-KN quality filter end-to-end (operators/lm.py:
    train_kn(order=3) + perplexity + ppl_thresholds + ppl_bucket):
    train on the clean slice (doc_id % 5 > 0), score the whole corpus
    under the depth-3 interpolated-KN recursion, bucket by CORPUS
    TERCILES of the 6dp-rounded perplexity (exact percentile,
    mirrored as quantile_cont in the oracle — r11, replacing the
    sf0.01-pinned constants whose head bucket emptied at scale, r10
    verdict next #6) — the same CCNet topology as x_lm_perplexity one
    order deeper. Scale shape: training is ONE corpus scan feeding
    type-sized hash aggregates, scoring is five broadcast model joins
    + three vocabulary unk-maps + ONE doc-keyed shuffle; the scored
    doc-id-sized table is persisted once so the threshold action and
    the returned frame share it instead of re-running the scoring
    subtree."""
    from mfdb_hafro_etl_spark.operators import lm as lmod
    from mfdb_hafro_etl_spark.session import pin_to_result

    docs = load_table(spark, sf_dir, "documents")
    m = lmod.train_kn(docs.filter(F.col("doc_id") % 5 > 0), 3)
    scored = (
        lmod.perplexity(docs, m)
        .select("doc_id", "n_tokens", F.round("ppl", 6).alias("ppl"))
        .persist()
    )
    head_max, tail_min = lmod.ppl_thresholds(scored, exact=True)
    out = scored.select(
        "doc_id",
        "n_tokens",
        "ppl",
        lmod.ppl_bucket(F.col("ppl"), head_max, tail_min).alias("bucket"),
    )
    return pin_to_result(out, [*m.tables, scored])
