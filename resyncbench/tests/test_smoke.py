"""Smoke runs of every workload at tiny size, plus the result contract.

Each run starts its own JVM, so this module takes a few minutes:

    python3 -m pytest resyncbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import metrics
from workloads import WORKLOADS

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def run(cwd, workload, trace=0, seconds="1"):
    return subprocess.run(
        [sys.executable, "resyncbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", seconds, "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result_line(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    return out


def test_benchmark_json_matches_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == metrics.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_workload_smoke(workload):
    out = result_line(run(ROOT, workload))
    assert set(out["metrics"]) == set(metrics.END_TO_END)
    for name, m in out["metrics"].items():
        assert m["unit"] == metrics.END_TO_END[name][0]
        assert m["value"] > 0, name
    assert not os.path.exists(os.path.join(ROOT, ".resyncbench_work"))


def test_traced_run_reports_layers_and_overhead():
    proc = run(ROOT, "jdbc_resync", trace=1)
    out = result_line(proc)
    assert set(out["metrics"]) == set(metrics.PER_LAYER)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["pipeline.slice_s"] > 0 and m["lake.write_work_s"] > 0
    assert m["slicing.intervals"] == m["pipeline.attempts"] > 0  # per batch, no retries
    assert m["lake.write_work.stages"] > 0  # stage counters came through the UI
    assert "trace.overhead_s" in m
    assert "# spans" in proc.stdout


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "resyncbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(str(tmp_path), "catalog_hot")
    assert proc.returncode != 0
    assert not proc.stdout.strip().endswith("}")
