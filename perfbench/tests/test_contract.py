"""BENCHMARK.json agrees with the metric list the benchmark prints, and
the command fails without printing a result when the package is
missing."""

import json
import os
import shutil
import subprocess
import sys

from run import ROOT, WORKLOADS
from spec import END_TO_END, PER_LAYER

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_spec():
    spec = _benchmark_json()
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == PER_LAYER
    assert all(w["name"] in WORKLOADS for w in spec["workloads"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_command_fails_without_the_package(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_warm", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_companion_metrics_are_declared():
    from run import load

    names = {name for name, _, _ in PER_LAYER}
    for _, companion in WORKLOADS.values():
        owns = load(*companion).owns
        assert owns and set(owns) <= names
