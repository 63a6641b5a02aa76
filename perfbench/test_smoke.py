"""Smoke test of the benchmark itself, at the tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

For every workload: two seeds print every end-to-end metric of
BENCHMARK.json with its unit and no failed call, and generate different
inputs; a traced run of the first seed prints every per-layer metric and
generates the same inputs as the untraced run. Each run starts Spark, so
the whole test takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload: str, seed: int, trace: int) -> tuple[dict, str]:
    """Run the benchmark; return its result line and the input digest."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    digest = re.search(r"^# inputs (\w+)$", proc.stderr, re.M).group(1)
    return result, digest


def assert_metrics(result: dict, kind: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1
    assert result["failed"] == 0  # failed_frac == 0
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload(workload):
    first, d1 = run(workload, 1, trace=0)
    second, d2 = run(workload, 2, trace=0)
    traced, d3 = run(workload, 1, trace=1)
    assert_metrics(first, "end_to_end")
    assert_metrics(second, "end_to_end")
    assert_metrics(traced, "per_layer")
    assert d1 != d2, "two seeds generated the same inputs"
    assert d1 == d3, "one seed generated different inputs"
    for v in first["metrics"].values():
        assert v["value"] > 0


def test_refuses_without_library(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
