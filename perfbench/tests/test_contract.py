"""The printed result and the workloads the code runs match
BENCHMARK.json, and a directory without the program fails the run."""

import json
import os
import shutil
import subprocess
import sys

import plan
import run
import workloads

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_printed_metric_names_match_benchmark_json():
    b = _benchmark()
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        names = [m["name"] for m in b[key]]
        result = {"correct": True, "attempted": 1, "failed": 0, "metrics": {n: 1.0 for n in names}}
        out = run.report(result, trace)
        assert list(out) == ["correct", "attempted", "failed", "metrics"]
        assert list(out["metrics"]) == names
        assert {n: v["unit"] for n, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in b[key]}


def test_workloads_match_benchmark_json():
    names = [w["name"] for w in _benchmark()["workloads"]]
    assert names == list(plan.DATASETS) == list(workloads.WORKLOADS)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "full_load", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
