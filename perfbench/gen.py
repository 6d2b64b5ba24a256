"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``catalog.TESTDATA_TABLES``)
with the schemas and value distributions of the repository's TPC-H-ish
test data: a star schema, an ``events`` click stream, a ``documents``
corpus with ~5 % planted near-duplicates, and unit-norm 64-d
``embeddings``. Nothing is read from outside the output directory.

``scale`` sizes one replica the way the test data's ``sf`` sizes its
tables (lineitem = 6 M × scale rows). ``factor`` replicas are then
stacked with the FK-consistent scheme of ``scale_bench.generate``:

- region and nation stay fixed (broadcast-sized at any factor);
- every fact/entity key of replica r is shifted by ``block_r × stride``
  so each FK join finds exactly its own replica's rows;
- replica r's document text goes through its own letter bijection
  (caesar ∘ vowel rotation) plus a replica prefix token, and its
  embeddings through their own roll/negation, so dedup and ANN pair
  counts grow linearly in the factor.

The seed draws the base content and, for replicas 1.., a distinct
key block, text bijection and embedding rotation each. Replica 0 is
the untransformed base, so every seed keeps the same vocabulary,
duplicate rate and cost shape.
"""

from __future__ import annotations

import datetime as dt
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_VOCAB = (
    "a the join hash row batch scan column customer filter small slow "
    "merge order vector line table data agg value key stream window "
    "spark part group big sort query fast"
).split()
_COLORS = "blue red green small large black white steel".split()
_NOUNS = "anvil widget bolt ring gear valve spring clamp".split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_EMB_DIM = 64


def _doc_translate(k: int) -> str:
    """Image of ``a..z`` under map k: caesar by k % 26, then a vowel
    rotation by (k // 26) % 5 — 130 distinct bijections."""
    low = string.ascii_lowercase
    c, v = k % 26, (k // 26) % 5
    vow = "aeiou"
    vrot = {vow[i]: vow[(i + v) % 5] for i in range(5)}
    return "".join(vrot.get(low[(i + c) % 26], low[(i + c) % 26]) for i in range(26))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _base(rng, scale: float) -> dict[str, dict[str, np.ndarray | list]]:
    """One replica's columns, keys starting at 0."""
    n_cust = max(int(150_000 * scale), 150)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 200)
    n_ord = max(int(1_500_000 * scale), 1500)
    n_li = max(int(6_000_000 * scale), 6000)
    n_ev = max(int(1_000_000 * scale), 1000)
    n_users = max(int(15_000 * scale), 15)
    n_docs = max(int(50_000 * scale), 500)
    n_emb = max(int(20_000 * scale), 500)

    t: dict[str, dict] = {}
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -1000, 10_000, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    }
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -1000, 10_000, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": [
            f"{_COLORS[c]} {_NOUNS[w]}"
            for c, w in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n_li),
    }
    # events: increasing timestamps over 30 days, whole microseconds
    span_us = 30 * 86_400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    # documents: bag-of-words text; 5 % are an earlier doc plus " dup"
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    dk = np.arange(n_docs, dtype=np.int64)
    t["documents"] = {
        "doc_id": dk,
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{k % 20}" for k in dk],
    }
    vec = rng.standard_normal((n_emb, _EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": vec,
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }
    return t


#: key columns shifted per replica: column → owner table's key stride
_SHIFTS = {
    "c_custkey": "customer", "o_custkey": "customer",
    "s_suppkey": "supplier", "l_suppkey": "supplier",
    "p_partkey": "part", "l_partkey": "part",
    "o_orderkey": "orders", "l_orderkey": "orders",
    "event_id": "events", "user_id": "users",
    "doc_id": "documents", "vec_id": "embeddings",
}


def _replica(base: dict, table: str, block: int, strides: dict, tmap: str | None,
             roll: int, r: int) -> pa.Table:
    cols = dict(base[table])
    for c in cols:
        owner = _SHIFTS.get(c)
        if owner and block:
            cols[c] = cols[c] + block * strides[owner]
    if table == "documents":
        if tmap is not None:
            tr = str.maketrans(string.ascii_lowercase, tmap)
            cols["text"] = [f"r{r} " + s.translate(tr) for s in cols["text"]]
        cols["n_chars"] = np.array([len(s) for s in cols["text"]], dtype=np.int64)
    if table == "embeddings":
        vec = np.roll(cols["embedding"], -(roll % _EMB_DIM), axis=1)
        if (roll // _EMB_DIM) % 2:
            vec = -vec
        flat = pa.array(vec.reshape(-1), type=pa.float32())
        cols["embedding"] = pa.FixedSizeListArray.from_arrays(flat, _EMB_DIM).cast(
            pa.list_(pa.float32())
        )
    return pa.table(cols)


def generate(out_dir: str, seed: int, scale: float, factor: int) -> dict[str, int]:
    """Write every table under ``out_dir`` as ``<table>.parquet/part-*.parquet``
    (one file per replica; fixed dims as one file) and return the row
    count of each table. Deterministic in (seed, scale, factor)."""
    rng = np.random.default_rng(seed)
    base = _base(rng, scale)
    strides = {k: len(v[next(iter(v))]) for k, v in base.items()}
    strides["users"] = int(base["events"]["user_id"].max()) + 1
    # replica r>0: a distinct key block, text map and embedding rotation
    blocks = [0, *(1 + rng.permutation(4 * factor)[: factor - 1])]
    maps = [None, *(_doc_translate(int(k)) for k in 1 + rng.permutation(129)[: factor - 1])]
    rolls = [0, *(1 + rng.permutation(2 * _EMB_DIM - 1)[: factor - 1])]

    counts: dict[str, int] = {}
    for table in TABLES:
        dst = os.path.join(out_dir, f"{table}.parquet")
        os.makedirs(dst, exist_ok=True)
        if table == "region":
            names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
            parts = [pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                               "r_name": names})]
        elif table == "nation":
            parts = [pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                               "n_name": [f"NATION_{i}" for i in range(25)],
                               "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})]
        else:
            parts = [_replica(base, table, int(blocks[r]), strides, maps[r], int(rolls[r]), r)
                     for r in range(factor)]
        for i, part in enumerate(parts):
            pq.write_table(part, os.path.join(dst, f"part-{i:05d}.parquet"))
        counts[table] = sum(p.num_rows for p in parts)
    return counts
