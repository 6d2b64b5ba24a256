"""Op runner, result checks and statistics of the benchmark.

Nothing here starts Spark: ops are callables ``(spark, sf_dir) ->
DataFrame`` and the session is passed in, so ``selftest.py`` can drive
the runner with fake ops.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa


@dataclass
class OpResult:
    name: str
    seconds: float  # builder call + toArrow()
    table: object = None  # the pyarrow Table, or None when the op failed
    error: str | None = None
    df: object = None  # the materialized DataFrame (for its plan phases)


def run_op(name: str, build, spark, sf_dir: str, tracer=None) -> OpResult:
    """Call the builder and materialize its result with ``toArrow()``.

    There is no fallback path: an exception from either step is the
    op's failure, recorded with its traceback tail, and the caller
    goes on with the next op."""
    t0 = time.perf_counter()
    sp = tracer.open("suite", f"suite.{name}") if tracer else None
    try:
        df = build(spark, sf_dir)
    except Exception:
        if sp:
            tracer.close(sp)
        return OpResult(name, time.perf_counter() - t0, error=_tail())
    if sp:
        tracer.close(sp)
    sp = tracer.open("transfer", "transfer.toArrow") if tracer else None
    try:
        table = df.toArrow()
    except Exception:
        return OpResult(name, time.perf_counter() - t0, error=_tail())
    finally:
        if sp:
            tracer.close(sp)
    return OpResult(name, time.perf_counter() - t0, table, df=df)


def run_pass(ops, spark, sf_dir: str, checker: "Checker", log: "PassLog", pass_no: int,
             release, tracer=None, on_result=None) -> None:
    """Run every op once, in order, and log the pass's timed seconds
    (each op plus the release step after it). Results are checked
    after the timed region; a raised error or a wrong result counts
    the op as failed and the pass goes on."""
    total = 0.0
    op_seconds = []
    for i, (name, build) in enumerate(ops):
        if tracer:
            tracer.op_begin(pass_no * 1000 + i, name)
        res = run_op(name, build, spark, sf_dir, tracer)
        if on_result:
            on_result(res)
        res.df = None  # drop the plan so result-scoped cache pins free
        sp = tracer.open("session", "session.release") if tracer else None
        t0 = time.perf_counter()
        release()
        rel = time.perf_counter() - t0
        if tracer:
            tracer.close(sp)
            tracer.op_end()
        total += res.seconds + rel
        log.attempted += 1
        op_seconds.append(res.seconds)
        reason = res.error or checker.check(name, res.table)
        if reason:
            log.record_failure(pass_no, name, reason)
    log.pass_seconds.append(total)
    log.op_seconds.append(op_seconds)


def _tail() -> str:
    return "".join(traceback.format_exc().strip().splitlines(True)[-6:])


# ----------------------------------------------------------- fingerprints
def arrow_to_pandas(table):
    """Arrow → pandas the way Spark's ``toPandas`` hands results to
    the parity check: timestamps as naive UTC."""
    cols = []
    for f, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            col = col.cast(pa.timestamp(f.type.unit))
        cols.append(col)
    return pa.table(cols, names=table.column_names).to_pandas()


def fingerprint(rows: list[tuple]) -> dict:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return {"rows": len(rows), "sha": h.hexdigest()}


def fingerprint_arrow(table) -> dict:
    """Fingerprint of ``tests/parity.py``'s canonical form: columns
    sorted by name, floats as ``%.10g``, NULL/NaN as one token, rows
    sorted."""
    from tests.parity import canon_rows

    return fingerprint(canon_rows(arrow_to_pandas(table)))


class Checker:
    """Checks each op result against a reference fingerprint.

    The reference is the op's DuckDB oracle result where the suite
    registers one, else the first run's fingerprint; references are
    cached on disk per (workload, seed, input scale). After an op's
    first check in this process, later results are first compared to
    the checked Arrow table sorted by all columns (fast, exact); only
    a difference there re-runs the canonical comparison."""

    def __init__(self, cache_path: str, references: dict[str, dict]):
        self.cache_path = cache_path
        self.refs = references
        self._checked: dict[str, object] = {}

    def check(self, name: str, table) -> str | None:
        """None when correct, else a one-line reason."""
        seen = self._checked.get(name)
        if seen is not None and _sorted(table).equals(seen):
            return None
        got = fingerprint_arrow(table)
        want = self.refs.get(name)
        if want is None:
            self.refs[name] = {**got, "source": "first_run"}
            self._save()
        elif (got["rows"], got["sha"]) != (want["rows"], want["sha"]):
            return (f"result differs from the {want['source']} reference: "
                    f"{got['rows']} rows vs {want['rows']}")
        self._checked[name] = _sorted(table)
        return None

    def _save(self) -> None:
        tmp = self.cache_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.refs, fh, indent=1, sort_keys=True)
        os.replace(tmp, self.cache_path)


def _sorted(table):
    if table.num_rows == 0 or table.num_columns == 0:
        return table
    names = sorted(table.column_names)
    t = table.select(names)
    keys = [(n, "ascending") for n, f in zip(names, t.schema)
            if not pa.types.is_nested(f.type)]
    return t.sort_by(keys) if keys else t


def oracle_references(sf_dir: str, ops: list[str], oracles: dict[str, str],
                      tables: tuple[str, ...]) -> dict[str, dict]:
    """Fingerprint of each op's DuckDB oracle over the generated input."""
    import duckdb

    from tests.parity import canon_rows

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}/*.parquet')")
        return {
            op: {**fingerprint(canon_rows(con.sql(oracles[op]).df())),
                 "source": "oracle"}
            for op in ops if op in oracles
        }
    finally:
        con.close()


# ------------------------------------------------------------ statistics
@dataclass
class PassLog:
    """Everything one run measured, pass by pass."""

    op_seconds: list[list[float]] = field(default_factory=list)  # per pass, per op
    pass_seconds: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[dict] = field(default_factory=list)

    def record_failure(self, pass_no: int, op: str, reason: str) -> None:
        self.failed += 1
        self.failures.append({"pass": pass_no, "op": op, "reason": reason})


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
