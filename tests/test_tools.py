"""Bench and scaling-report helpers that need no Spark session."""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(relpath: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_rejects_zero_reps_before_session(monkeypatch):
    bench = _load("bench.py", "bench_under_test")

    def no_session(*a, **kw):
        raise AssertionError("Spark session started before the reps check")

    monkeypatch.setattr(bench, "get_spark", no_session)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "0")
    with pytest.raises(ValueError, match="SPARK_GRAFT_BENCH_REPS"):
        bench.main()


def test_pair_table_skips_mixed_harness_rows():
    scaling = _load("tools/scaling.py", "scaling_under_test")

    def cell(seconds, harness):
        return {"seconds": seconds, "harness": harness}

    results = {
        "tc_arrays": {2: cell(40.0, 6), 8: cell(12.5, 6)},
        "webe2e": {2: cell(60.0, 11), 8: cell(18.0, 12)},
    }
    lines, effs = scaling.pair_table(2, 8, results)
    assert effs == {"tc_arrays": pytest.approx(0.8)}
    (web,) = [line for line in lines if line.startswith("| webe2e ")]
    assert "not paired" in web and "v11" in web and "v12" in web
