"""bench.py's failure accounting: a raising arm is recorded once as a
per-arm error and the run continues; materialize falls back only when
a transfer method is missing, never on a failure inside it."""

from __future__ import annotations

import pytest

import bench


def test_raising_arm_recorded_once_and_run_continues(capsys):
    calls: list[str] = []
    released: list[int] = []

    def run(name: str) -> None:
        calls.append(name)
        if name == "b_boom":
            raise RuntimeError("injected arm failure")

    timings, errors = bench.run_arms(
        ["a_ok", "b_boom", "c_ok"], run, lambda: released.append(1)
    )
    assert calls == ["a_ok", "b_boom", "c_ok"]  # executed once each
    assert set(timings) == {"a_ok", "c_ok"}
    assert errors == {"b_boom": "RuntimeError: injected arm failure"}
    assert len(released) == 3
    out = capsys.readouterr().out
    assert out.count("injected arm failure") == 1


def test_materialize_falls_back_only_when_method_is_missing():
    used: list[str] = []

    class NoArrow:
        def toPandas(self):
            used.append("toPandas")

    bench.materialize(NoArrow())
    assert used == ["toPandas"]

    class BrokenArrow:
        def toArrow(self):
            raise ValueError("arm failed inside toArrow")

        def toPandas(self):
            used.append("fallback")

    with pytest.raises(ValueError, match="inside toArrow"):
        bench.materialize(BrokenArrow())
    assert used == ["toPandas"]  # no silent re-execution
