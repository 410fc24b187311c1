"""End-to-end smoke runs of every workload, correctness gates included.

    python3 -m pytest perfbench/test_smoke.py -q

Each test runs ``run.py`` in a fresh process at the smoke size, exactly as
the benchmark is run, and checks its JSON summary.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def _run(workload: str, trace: int, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return proc, proc.stdout.splitlines()


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_smoke(workload):
    proc, lines = _run(workload, 0)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    summary = json.loads(lines[-1])
    assert summary["correct"] and summary["failed"] == 0
    assert summary["attempted"] >= 1
    assert set(summary["metrics"]) == set(run.END_TO_END_UNITS)
    assert all(m["value"] > 0 for m in summary["metrics"].values())
    assert "# e2e fail_share = 0 ratio" in lines


def test_traced_smoke_reports_every_layer():
    proc, lines = _run("crawl_backlog", 1)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    summary = json.loads(lines[-1])
    assert summary["correct"]
    assert set(summary["metrics"]) == set(run.PER_LAYER_UNITS)
    m = {k: v["value"] for k, v in summary["metrics"].items()}
    assert m["crawler.jobs_per_cycle"] > 0
    assert m["storage.commits"] > 0 and m["bloom.adds"] > 0
    assert m["datapipe.exact_dedup_s"] == 0
    assert m["trace.overhead_s"] > 0
    # the end-to-end lines of a traced run, to compare with an untraced one
    assert any(line.startswith("# e2e crawl_urls_per_s") for line in lines)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    without printing a result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc, lines = _run("corpus_dedup", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in lines)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.PER_LAYER_UNITS
