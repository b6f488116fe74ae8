"""Smoke runs of every workload: each for one second of measured work,
untraced and traced. Every metric BENCHMARK.json names must be printed,
well-named and with its unit, and no operation may fail."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

from perfbench.common import PERFBENCH_DIR, ROOT

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
WORKLOADS = ["etl_refresh", "corpus_dedup", "api_reads", "api_reads_ingest"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(PERFBENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert sorted(out["metrics"]) == sorted(m["name"] for m in declared)
    for m in declared:
        got = out["metrics"][m["name"]]
        assert NAME.match(m["name"])
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0


def test_listed_workloads_exist():
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)


def test_refuses_without_the_package(tmp_path):
    """Run from a copy holding only the benchmark: no result, non-zero exit."""
    import shutil

    shutil.copytree(PERFBENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "etl_refresh",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
