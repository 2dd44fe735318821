from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from linkbench import run

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("argv", [
    ["--workload", "nope", "--seed", "1", "--seconds", "5"],
    ["--workload", "tc_hubs", "--seed", "1.5", "--seconds", "5"],
    ["--workload", "tc_hubs", "--seed", "x", "--seconds", "5"],
    ["--workload", "tc_hubs", "--seed", "-1", "--seconds", "5"],
    ["--workload", "tc_hubs", "--seed", "1", "--seconds", "0"],
    ["--workload", "tc_hubs", "--seed", "1", "--seconds", "5", "--trace", "2"],
    ["--seed", "1", "--seconds", "5"],
])
def test_bad_arguments_exit_before_any_spark_work(argv):
    with pytest.raises(SystemExit) as e:
        run.parse_args(argv)
    assert e.value.code == 2


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_without_the_engine_it_fails_fast_and_prints_no_result(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "linkbench")
    p = subprocess.run(
        [sys.executable, "linkbench/run.py", "--workload", "tc_hubs", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode == 2
    assert '"correct"' not in p.stdout
