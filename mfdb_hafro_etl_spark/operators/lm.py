"""CCNet-style n-gram language-model quality filter.

The one standard stage of a public LLM-data pipeline the rule-based
cleaning family (cleaning.py: PII, Gopher rules, HTML extraction, URL
dedup, decontamination) does not cover: train a statistical LM on a
CLEAN reference corpus, score every candidate document's perplexity
under it, and bucket the corpus head/middle/tail — documents that the
clean-corpus LM finds surprising are boilerplate, spam, or noise
(Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
from Web Crawl Data", LREC 2020, which uses a 5-gram KenLM; the public
method, not any implementation, is what this module reproduces).

Model: an interpolated **Kneser-Ney** LM of order N = 2 or 3 (Kneser &
Ney 1995; Chen & Goodman 1999 §4, the public formulation), one
recursion over the levels k = N .. 2:

    p_k(w | h) = max(cnt_k(h, w) - D_k, 0) / tot_k(h)
               + (D_k * succ_k(h) / tot_k(h)) * p_{k-1}(w | h')
    p_1(w)     = n_prec(w) / |bigram types|

where h' drops the oldest token of h. The top level counts raw
n-grams; each lower level counts CONTINUATIONS (how many distinct
tokens extend the k-gram to the left among the level above's types),
which is what distinguishes Kneser-Ney from deleted interpolation.
``tot_k(h)`` sums a context's counts, ``succ_k(h)`` counts its distinct
successors, and ``n_prec(w)`` counts the bigram types ending in w.
Each level has its own discount, the Ney et al. 1994 estimate
n1/(n1 + 2*n2) over that level's count==1 and count==2 types unless
given. Out-of-vocabulary tokens map to ``<unk>`` (tokens below
``min_count`` at train time supply its mass); each document is scored
as ``<s> w1 w2 ...`` with N-1 ``<s>`` pads — every real token gets a
conditional probability, ``<s>`` is context only. An unseen context
at level k backs off to p_{k-1} entirely; the truly-unseen corner
(``<unk>`` absent from training because no token was rare) floors at
1/(vocab_size+1) so the score is total and deterministic.

Both orders are oracle-backed: the suite arms x_lm_perplexity (order
2) and x_lm3_perplexity and x_corpus_build_ccnet (order 3) re-derive
the whole model in DuckDB and replay the identical IEEE expression
tree. Higher orders (KenLM's 5-gram) are refused: no arm and no
oracle exercises them.

Scale shape (the 100 TB judgment):
- **Training** is one corpus scan: the n-grams are built INSIDE the
  scan as array algebra (transform + explode, no window, no
  per-document shuffle) and counted into a raw type table, from which
  the vocabulary derives; the unk-mapping and every later aggregate
  run over type-sized tables, never corpus-sized ones, and one action
  reads all the scalars.
- **Scoring** joins the exploded corpus n-grams against the model
  tables. The model is vocabulary-sized (bounded by ``min_count`` and
  the Heaps-law type/token gap, not by corpus size); with
  ``broadcast_model=True`` (default) every model join is a broadcast
  hash join and the only shuffle in the whole score is the final
  per-document sum. For a vocabulary too large to broadcast, pass
  False and the joins become ordinary token-keyed equi-joins that AQE
  plans — still linear, never corpus x corpus.
- **Bucketing** is a codegen'd CASE against scalar thresholds;
  thresholds come from percentile_approx (mergeable sketch, the scale
  path) or exact percentile (single-group sort aggregate — corpus
  stats, use only where exactness is the contract).

Reference scope note: the reference ETL (R/initdb.R) has no LM stage;
this module is driver-extension scope (training-data pipeline
operators), same as dedup.py / cleaning.py.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mfdb_hafro_etl_spark.exprcache import column_template
from mfdb_hafro_etl_spark.session import spread_for_kernel
from mfdb_hafro_etl_spark.sinks.index import _read_meta, _retire_meta, _write_meta

BOS = "<s>"
UNK = "<unk>"

#: n-gram column names, oldest context token first; order N uses the
#: last N, so level k's table is keyed on _GRAM[-k:] at every order
_GRAM = ("u", "v", "w")

#: compressed-source bytes per scoring task. The KN scorer's probe
#: stage (explode + 3-8 broadcast hash probes + log/CASE per n-gram)
#: measures ~10^4 x scan CPU per byte — an order denser than the Arrow
#: kernels spread_for_kernel's 64 KB default was sized for — so the
#: fan-out saturates sooner. Targets are still capped at
#: 2 x defaultParallelism, so this only decides how SOON the cap is
#: reached; at real corpus scale the input is already over-split and
#: the spread is a no-op.
_LM_SCORE_BYTES_PER_TASK = 8 << 10

#: Perplexity of an empty document is undefined; scoring returns NULL.


def lm_tokens(col: Column | str) -> Column:
    """Whitespace tokenization, lowercased, empties dropped — the
    corpus-wide convention (text.py token_count, bpe_word_freq) so LM
    scores compose with the other text operators' token counts.
    String names route through a memoized template (exprcache)."""
    if isinstance(col, str):
        return _lm_tokens_named(col)
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


@column_template
def _lm_tokens_named(name: str) -> Column:
    return lm_tokens(F.col(name))


@column_template
def _ngrams(name: str, order: int, tokenize: bool) -> Column:
    """One ``_GRAM[-order:]`` struct per token of the token-array
    column ``name`` (of ``lm_tokens(name)`` with ``tokenize``), as
    array algebra inside the scan: token i's context is the order-1
    tokens before it, with BOS padding the left edge. No window, no
    per-document shuffle. Memoized template (exprcache)."""
    toks = lm_tokens(name) if tokenize else F.col(name)
    names = _GRAM[-order:]
    return F.transform(
        toks,
        lambda w, i: F.struct(
            *[
                F.when(i < F.lit(back), F.lit(BOS))
                .otherwise(F.element_at(toks, i - F.lit(back - 1)))
                .alias(names[-1 - back])
                for back in range(order - 1, 0, -1)
            ],
            w.alias("w"),
        ),
    )


@dataclass
class KneserNey:
    """A trained interpolated Kneser-Ney model of order 2 or 3: the
    vocabulary, one type-sized count table per level, and the scalar
    statistics the closed-form score needs. The scorer derives each
    level's context table and the unigram continuation table from the
    level tables. train_kn persists ``tables`` (they are read once per
    scoring join but cost a corpus scan to rebuild); call unpersist()
    when done."""

    order: int
    vocab: DataFrame  # (w)  tokens with cnt >= min_count
    #: levels k = order .. 2, each keyed on _GRAM[-k:] with count
    #: column cnt{k}: raw unk-mapped counts at the top level,
    #: continuation counts below it
    levels: tuple[DataFrame, ...]
    n_types: int  # distinct bigram types (rows of the level-2 table)
    vocab_size: int  # |vocab| (excluding BOS/UNK)
    discounts: tuple[float, ...]  # one per level, top order first
    min_count: int

    @property
    def tables(self) -> tuple[DataFrame, ...]:
        """What train_kn persists, lm_write writes and the suite pins
        to a result: the vocabulary and the level tables."""
        return (self.vocab, *self.levels)

    def unpersist(self) -> None:
        for df in self.tables:
            try:
                df.unpersist()
            except Exception:
                pass


def _check_order(order: int) -> None:
    if order not in (2, 3):
        raise ValueError(f"KN order must be 2 or 3, got {order!r}")


def _valid_discounts(discounts, order: int) -> tuple[float, ...]:
    """One discount per level, each in [0, 1]. D == 1 is valid KN: all
    observed mass discounts away and the level backs off entirely
    (conservation still holds since max(c - D, 0) >= 0); the Ney
    estimate hits it when n2 == 0. NaN and infinities fail the range
    test."""
    ds = tuple(float(d) for d in discounts)
    if len(ds) != order - 1 or not all(0.0 <= d <= 1.0 for d in ds):
        raise ValueError(
            f"discounts must be {order - 1} value(s) in [0, 1], top order "
            f"first; got {discounts!r}"
        )
    return ds


def _maybe_broadcast(df: DataFrame, flag: bool) -> DataFrame:
    return F.broadcast(df) if flag else df


def _unk_map(
    grams: DataFrame,
    vocab: DataFrame,
    cols: tuple[str, ...],
    keep: list[str],
    broadcast: bool = True,
) -> DataFrame:
    """Map the raw n-gram columns ``<x>_raw`` of ``grams`` to model
    tokens ``<x>``: a token outside ``vocab`` becomes UNK, a BOS pad
    stays BOS. One left join per column against the vocabulary."""
    for x in cols:
        v = vocab.select(F.col("w").alias(f"__v{x}__"))
        grams = grams.join(
            _maybe_broadcast(v, broadcast),
            F.col(f"{x}_raw") == F.col(f"__v{x}__"),
            "left",
        )
    mapped = []
    for x in cols:
        tok = F.coalesce(F.col(f"__v{x}__"), F.lit(UNK))
        if x != "w":
            tok = F.when(F.col(f"{x}_raw") == BOS, F.lit(BOS)).otherwise(tok)
        mapped.append(tok.alias(x))
    return grams.select(*keep, *mapped)


def train_kn(
    df: DataFrame,
    order: int,
    text_col: str = "text",
    min_count: int = 2,
    discounts: tuple[float, ...] | None = None,
    persist: bool = True,
) -> KneserNey:
    """Fit an order-``order`` model from a clean reference corpus in ONE
    corpus scan: the raw (unmapped) n-gram type table is built first,
    and the vocabulary derives from it — every token appears exactly
    ONCE as the ``w`` of exactly one n-gram (``_ngrams`` emits one
    struct per token, BOS only ever pads the context side), so unigram
    counts are exactly ``sum(rcnt) group by w_raw``. The unk-mapping
    joins then run against the TYPE table instead of the
    position-level stream and re-aggregate (the mapping collapses rare
    keys into UNK). Each lower level is one aggregate over the level
    above it, and one action reads the type count, the vocabulary size
    and every level's n1/n2. ``discounts`` (top order first) override
    the Ney estimates.

    ``tables`` stay persisted; the raw type table is persisted for the
    duration of training and released before returning. With
    ``persist=False`` nothing is cached and the vocabulary and n-gram
    branches each re-scan the corpus (correct, slower; for one-shot
    harness runs where cached fragments on the executors would pollute
    later timings)."""
    _check_order(order)
    if discounts is not None:
        discounts = _valid_discounts(discounts, order)
    cols = _GRAM[-order:]
    # the training scan gets the scorer's cost-gated fan-out: the
    # explode + per-gram partial-aggregate stage is as CPU-dense as
    # scoring, and a single-row-group parquet source otherwise pins it
    # to ONE core (measured: 2.5 s single-task stage at sf0.1). All
    # training outputs are grouping aggregates, so the round-robin
    # partitioning cannot change any count.
    src = spread_for_kernel(
        df.select(text_col), bytes_per_task=_LM_SCORE_BYTES_PER_TASK
    )
    # no empty-doc filter here: explode() of an empty (or NULL) token
    # array already emits zero rows, and an explicit size()>0 filter
    # gets PUSHED BELOW the fan-out exchange by the optimizer, which
    # re-tokenizes the whole corpus inside the single-split scan stage
    # (measured: 2.3 s single-task stage) — the exact starvation the
    # fan-out exists to remove.
    base = src.select(lm_tokens(text_col).alias("__toks__"))

    def _keep(d: DataFrame) -> DataFrame:
        return d.persist() if persist else d

    raw = (
        base.select(F.explode(_ngrams("__toks__", order, False)).alias("g"))
        .select(*[F.col(f"g.{x}").alias(f"{x}_raw") for x in cols])
        .groupBy(*[f"{x}_raw" for x in cols])
        .agg(F.count(F.lit(1)).alias("rcnt"))
    )
    if persist:
        raw = raw.persist()
    uni = raw.groupBy(F.col("w_raw").alias("w")).agg(F.sum("rcnt").alias("cnt"))
    vocab = _keep(uni.filter(F.col("cnt") >= min_count).select("w"))
    mapped = _unk_map(raw, vocab, cols, ["rcnt"])
    levels = [_keep(mapped.groupBy(*cols).agg(F.sum("rcnt").alias(f"cnt{order}")))]
    for k in range(order - 1, 1, -1):
        levels.append(
            _keep(
                levels[-1]
                .groupBy(*cols[-k:])
                .agg(F.count(F.lit(1)).alias(f"cnt{k}"))
            )
        )

    # ONE action for every training scalar: the single-row aggregates
    # cross-join into one row, so the driver pays one job-submission
    # round-trip — with persist=False that is also the difference
    # between one and several corpus re-scans
    rows = [
        t.agg(
            *([F.count(F.lit(1)).alias("n_types")] if k == 2 else []),
            F.count_if(F.col(f"cnt{k}") == 1).alias(f"n1_{k}"),
            F.count_if(F.col(f"cnt{k}") == 2).alias(f"n2_{k}"),
        )
        for k, t in zip(range(order, 1, -1), levels)
    ]
    rows.append(vocab.agg(F.count(F.lit(1)).alias("vsize")))
    stats = functools.reduce(DataFrame.crossJoin, rows).head()
    # the stats action has fully materialized the persisted tables;
    # the raw type table's blocks are no longer needed
    if persist:
        try:
            raw.unpersist()
        except Exception:
            pass
    if discounts is None:
        # Ney-Essen-Kneser estimate per level, in [0, 1] by
        # construction; degenerate corpora (no count==1 or count==2
        # types) get the textbook 0.75 constant
        n12 = [(stats[f"n1_{k}"], stats[f"n2_{k}"]) for k in range(order, 1, -1)]
        discounts = tuple(
            n1 / (n1 + 2 * n2) if n1 + 2 * n2 > 0 else 0.75 for n1, n2 in n12
        )
    return KneserNey(
        order=order,
        vocab=vocab,
        levels=tuple(levels),
        n_types=stats["n_types"],
        vocab_size=stats["vsize"],
        discounts=discounts,
        min_count=min_count,
    )


def perplexity(
    df: DataFrame,
    lm: KneserNey,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
    out_tokens: str = "n_tokens",
    out_logprob: str = "logprob",
    out_ppl: str = "ppl",
) -> DataFrame:
    """Score each document under the model: per-token natural
    log-probability summed per document, perplexity
    exp(-logprob / n_tokens). Documents with no tokens score NULL.

    One shuffle total with broadcast_model=True (the per-document
    sum); the model joins (one per level, one per level's context
    table, the unigram continuation table, and one vocabulary unk-map
    per n-gram column) are broadcast hash joins in the scan stage.
    The probability is one nested CASE written with fixed association
    so a SQL oracle replays the identical IEEE tree (suite arms
    x_lm_perplexity, x_lm3_perplexity)."""
    cols = _GRAM[-lm.order:]
    floor = 1.0 / (lm.vocab_size + 1)

    def mb(t: DataFrame) -> DataFrame:
        return _maybe_broadcast(t, broadcast_model)

    # fan the scoring scan out (session.spread_for_kernel): the
    # explode + model-probe + partial-sum stage costs ~10^4 x scan CPU
    # per byte, and a single-row-group parquet source arrives as ONE
    # task no matter the split config (row groups are the split floor)
    # — measured 8.5 s on 1 of 32 cores at the 600 KB fixture, ~0.2 s
    # spread. Cost-gated and capped at 2 x parallelism, so a real
    # many-split corpus scan is untouched; per-document sums are
    # unaffected because each document's rows stay in one partition
    # (the round-robin moves whole pre-explode rows).
    src = spread_for_kernel(
        df.select(id_col, text_col), bytes_per_task=_LM_SCORE_BYTES_PER_TASK
    )
    grams = src.select(
        F.col(id_col), F.explode(_ngrams(text_col, lm.order, True)).alias("g")
    ).select(id_col, *[F.col(f"g.{x}").alias(f"{x}_raw") for x in cols])
    joined = _unk_map(grams, lm.vocab, cols, [id_col], broadcast_model)
    for k, level in zip(range(lm.order, 1, -1), lm.levels):
        keys = list(cols[-k:])
        ctx = level.groupBy(*keys[:-1]).agg(
            F.sum(f"cnt{k}").alias(f"tot{k}"), F.count(F.lit(1)).alias(f"succ{k}")
        )
        joined = joined.join(mb(level), keys, "left").join(mb(ctx), keys[:-1], "left")
    unigram = lm.levels[-1].groupBy("w").agg(F.count(F.lit(1)).alias("n_prec"))
    joined = joined.join(mb(unigram), ["w"], "left")

    p_cont = F.coalesce(F.col("n_prec"), F.lit(0)) / F.lit(lm.n_types)
    p = F.when(p_cont > 0, p_cont).otherwise(F.lit(floor))
    for k, d in zip(range(2, lm.order + 1), reversed(lm.discounts)):
        tot = F.col(f"tot{k}")
        p = F.when(tot.isNull(), p).otherwise(
            F.greatest(F.coalesce(F.col(f"cnt{k}"), F.lit(0)) - F.lit(d), F.lit(0.0))
            / tot
            + (F.lit(d) * F.col(f"succ{k}") / tot) * p
        )
    # keep the score TOTAL at D == 0 (Ney estimate with no singleton
    # types, or an explicit 0.0 discount): an unseen n-gram under a
    # seen context then has p == 0, and F.log(0) is NULL, which sum()
    # would silently skip while n_tokens still counts the token —
    # perplexity would be silently UNDERestimated. Floor the FINAL
    # probability to the same deterministic 1/(vocab_size+1) the
    # unseen-vocab corner uses (a lower level can only be 0 when its
    # own seen branch is, so one floor at the top covers every level);
    # for every D > 0 the seen-context branch is strictly positive, so
    # this branch never fires and the IEEE tree the oracle replays is
    # value-identical.
    p = F.when(p > F.lit(0.0), p).otherwise(F.lit(floor))
    per_doc = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias(out_tokens), F.sum(F.log(p)).alias(out_logprob)
    )
    return (
        df.select(id_col)
        .join(per_doc, [id_col], "left")
        .select(
            id_col,
            F.coalesce(F.col(out_tokens), F.lit(0)).alias(out_tokens),
            F.col(out_logprob),
            F.when(
                F.col(out_tokens) > 0,
                F.exp(-F.col(out_logprob) / F.col(out_tokens)),
            ).alias(out_ppl),
        )
    )


def ppl_bucket(
    col: Column | str, head_max: float, tail_min: float, out_null: str = "tail"
) -> Column:
    """CCNet head/middle/tail bucketing against SCALAR thresholds —
    one codegen'd CASE, no shuffle. Thresholds are constants by
    design (CCNet computes per-language cutoffs once, then applies
    them as constants to the whole crawl); compute them with
    ppl_thresholds. Unscorable documents (NULL perplexity = no
    tokens) land in ``out_null`` (default tail: an empty document is
    not head-quality)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c.isNull(), F.lit(out_null))
        .when(c < F.lit(head_max), F.lit("head"))
        .when(c < F.lit(tail_min), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )


def ppl_thresholds(
    scored: DataFrame,
    ppl_col: str = "ppl",
    cuts: tuple[float, ...] = (1.0 / 3.0, 2.0 / 3.0),
    exact: bool = False,
    relative_error: float = 0.001,
) -> list[float]:
    """Corpus percentile cutoffs for ppl_bucket. Default is
    percentile_approx (mergeable Greenwald-Khanna sketch — the 100 TB
    path: one pass, fixed-size state, deterministic for a given
    dataset). ``exact=True`` uses the exact percentile aggregate —
    required where the cutoff must match an external quantile_cont
    bit-for-bit (the oracle-parity arms). Its scale shape is better
    than 'single-group sort' suggests: Spark's Percentile aggregate
    keeps a value→count map with map-side partial aggregation, so the
    single reducer merges DISTINCT-value histograms, not rows — and
    callers feeding it 6dp-ROUNDED perplexities bound the distinct
    count by the rounded value range, corpus-size-independent."""
    c = F.col(ppl_col)
    if exact:
        agg = F.percentile(c, F.array(*[F.lit(q) for q in cuts]))
    else:
        agg = F.percentile_approx(
            c, F.array(*[F.lit(q) for q in cuts]), int(1.0 / relative_error)
        )
    row = scored.filter(c.isNotNull()).agg(agg.alias("qs")).head()
    if row is None or row["qs"] is None:
        raise ValueError("ppl_thresholds: no scorable documents")
    return [float(v) for v in row["qs"]]


# ------------------------------------------------------------- persistence
_LM_META = "_lm_meta.json"


def _subtables(order: int) -> tuple[str, ...]:
    """On-disk names of KneserNey.tables, in the same order."""
    return ("vocab", *(f"level{k}" for k in range(order, 1, -1)))


def lm_write(lm: KneserNey, path: str) -> None:
    """Persist the model as parquet subtables (the vocabulary and one
    per level) plus a meta file. The meta is retired FIRST and written
    LAST (sinks.index's discipline: a crash mid-write leaves a
    visibly-torn model — no meta — never a silently-stale one)."""
    _retire_meta(path, _LM_META)
    for name, table in zip(_subtables(lm.order), lm.tables):
        table.write.mode("overwrite").parquet(os.path.join(path, name))
    _write_meta(
        path,
        _LM_META,
        {
            "order": lm.order,
            "n_types": lm.n_types,
            "vocab_size": lm.vocab_size,
            "discounts": list(lm.discounts),
            "min_count": lm.min_count,
        },
    )


def lm_read(spark: SparkSession, path: str) -> KneserNey:
    """Load a persisted model of either order; a missing meta file
    means the model is absent or torn, and an order or discount
    lm_write cannot have written means it is corrupt — both fail
    loudly rather than score with a partial model."""
    try:
        meta = _read_meta(path, _LM_META)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no LM meta at {os.path.join(path, _LM_META)} — model absent or "
            "torn (a crash mid-lm_write leaves no meta by design); retrain."
        ) from None
    order = meta["order"]
    _check_order(order)
    discounts = _valid_discounts(meta["discounts"], order)
    vocab, *levels = (
        spark.read.parquet(os.path.join(path, name)) for name in _subtables(order)
    )
    return KneserNey(
        order=order,
        vocab=vocab,
        levels=tuple(levels),
        n_types=int(meta["n_types"]),
        vocab_size=int(meta["vocab_size"]),
        discounts=discounts,
        min_count=int(meta["min_count"]),
    )
