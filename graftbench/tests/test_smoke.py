"""Tiny-size runs of every workload through the launcher.  Each starts a
Spark session, so the file takes a few minutes."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
import workloads

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH)


def run(*extra: str) -> tuple[subprocess.CompletedProcess, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--seed", "3", "--seconds", "1",
         "--size", "tiny", *extra],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    return proc, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_tiny_traced_run_passes_its_checks(name):
    proc, result = run("--workload", name, "--trace", "1")
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 1
    metrics = result["metrics"]
    assert all(metrics[k]["value"] >= 0 for k in ("trace.pass_s", "driver.gap_s"))
    assert "trace accounting" in proc.stdout


def test_swapped_values_fail_the_order_check():
    proc, result = run("--workload", "sort_ints", "--trace", "0", "--inject-fault")
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not result["correct"] and result["failed"] > 0
    failed = [ln for ln in proc.stdout.splitlines() if ln.startswith("failed: ")]
    assert failed and "sort_ints.order" in failed[0]
    assert "sort_ints.count" not in failed[0] and "sort_ints.sum" not in failed[0]
    assert result["metrics"]["success_rate"]["value"] < 1.0


def test_refuses_to_run_outside_the_repository(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "sort_ints",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
