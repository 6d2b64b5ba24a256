"""Self-test of the benchmark harness; needs no Spark session.

    python3 perfbench/selftest.py

Injects one raising op and one wrong-result op beside a correct one and
checks that both count as failed, with attribution, that a failing op
runs exactly once with no fallback materialization, that the input
generator is deterministic per seed with FK-consistent replicas, and
that the metric names in BENCHMARK.json match the ones the run prints.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from harness import Checker, PassLog, fingerprint_arrow, run_pass  # noqa: E402


class FakeFrame:
    """Stands in for a DataFrame; every materialization is counted."""

    def __init__(self, table=None, error=None):
        self.table, self.error = table, error
        self.calls = {"toArrow": 0, "toPandas": 0, "collect": 0}

    def toArrow(self):
        self.calls["toArrow"] += 1
        if self.error:
            raise self.error
        return self.table

    def toPandas(self):
        self.calls["toPandas"] += 1

    def collect(self):
        self.calls["collect"] += 1


def check_failures_are_counted() -> None:
    good = pa.table({"k": [1, 2], "v": [0.5, 1.5]})
    frames = {
        "good": FakeFrame(good),
        "raises": FakeFrame(error=RuntimeError("injected failure")),
        "wrong": FakeFrame(pa.table({"k": [1, 2], "v": [0.5, 9.5]})),
    }
    refs = {name: {**fingerprint_arrow(good), "source": "oracle"} for name in frames}
    ops = [(name, lambda spark, sf_dir, f=f: f) for name, f in frames.items()]
    with tempfile.TemporaryDirectory() as d:
        checker = Checker(os.path.join(d, "refs.json"), refs)
        log = PassLog()
        for pass_no in range(2):
            run_pass(ops, None, d, checker, log, pass_no, release=lambda: None)
    assert log.attempted == 6, log.attempted
    assert log.failed == 4, log.failures
    assert {(f["pass"], f["op"]) for f in log.failures} == {
        (p, op) for p in range(2) for op in ("raises", "wrong")}, log.failures
    raised = next(f for f in log.failures if f["op"] == "raises")
    assert "injected failure" in raised["reason"], raised
    wrong = next(f for f in log.failures if f["op"] == "wrong")
    assert "oracle reference" in wrong["reason"], wrong
    for name, f in frames.items():
        assert f.calls == {"toArrow": 2, "toPandas": 0, "collect": 0}, (name, f.calls)
    assert len(log.pass_seconds) == 2 and [len(o) for o in log.op_seconds] == [3, 3]


def check_builder_error_is_counted() -> None:
    def broken(spark, sf_dir):
        raise ValueError("builder failed")

    with tempfile.TemporaryDirectory() as d:
        log = PassLog()
        run_pass([("broken", broken)], None, d, Checker(os.path.join(d, "r.json"), {}),
                 log, 0, release=lambda: None)
    assert (log.attempted, log.failed) == (1, 1)
    assert "builder failed" in log.failures[0]["reason"]


def check_first_run_reference() -> None:
    """Without an oracle the first result becomes the reference and a
    later different result fails."""
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "refs.json")
        checker = Checker(path, {})
        assert checker.check("op", pa.table({"x": [3, 1]})) is None
        assert checker.check("op", pa.table({"x": [1, 3]})) is None  # order-insensitive
        with open(path) as fh:
            refs = json.load(fh)
        assert refs["op"]["source"] == "first_run"
        assert Checker(path, refs).check("op", pa.table({"x": [1, 4]}))


def check_generator() -> None:
    """Same seed, same input; each replica has its own key block, text
    map and embedding rotation, and every foreign key finds its row."""
    import numpy as np
    import pyarrow.parquet as pq

    import gen

    def read(d, table):
        return pq.read_table(os.path.join(d, f"{table}.parquet"))

    with tempfile.TemporaryDirectory() as d:
        a, b, c = (os.path.join(d, x) for x in "abc")
        counts = gen.generate(a, 7, 0.001, 3)
        assert gen.generate(b, 7, 0.001, 3) == counts
        gen.generate(c, 8, 0.001, 3)
        for t in gen.TABLES:
            assert read(a, t).equals(read(b, t)), t
        assert not read(a, "documents").equals(read(c, "documents"))

        docs = pq.ParquetDataset(os.path.join(a, "documents.parquet")).fragments
        first = sorted((f.path, f.to_table().column("text")[0].as_py()) for f in docs)
        t0, t1, t2 = (text for _, text in first)  # one base doc under each map
        assert t1.startswith("r1 ") and t2.startswith("r2 ")
        assert len({t0, t1[3:], t2[3:]}) == 3, first
        emb = read(a, "embeddings").column("embedding").to_pylist()
        n = counts["embeddings"] // 3
        assert len({tuple(np.round(emb[r * n], 6)) for r in range(3)}) == 3
        for child, col, parent, key in (("lineitem", "l_orderkey", "orders", "o_orderkey"),
                                        ("lineitem", "l_partkey", "part", "p_partkey"),
                                        ("orders", "o_custkey", "customer", "c_custkey")):
            keys = set(read(a, parent).column(key).to_pylist())
            assert len(keys) == counts[parent], parent  # no two replicas share a key
            assert set(read(a, child).column(col).to_pylist()) <= keys, (child, col)


def check_metric_names() -> None:
    from layers import PER_LAYER

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == list(PER_LAYER)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert [m["name"] for m in bench["end_to_end"]] == [
        "setup_s", "wall_s", "rows_per_s"]
    import run

    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


if __name__ == "__main__":
    check_failures_are_counted()
    check_builder_error_is_counted()
    check_first_run_reference()
    check_generator()
    check_metric_names()
    print("perfbench self-test: ok")
