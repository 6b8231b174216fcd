"""Smoke self-test of the benchmark: every workload, briefly, at sf0.001.

Each run is a fresh process, as in a real measurement. The test asserts
that every metric named in BENCHMARK.json is printed with its unit, that
the last line is the result object, and that every correctness check
passed. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

sys.path.insert(0, BENCH)

from run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_harness():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def _run(workload: str, trace: int) -> list[str]:
    cmd = _spec()["command"]
    assert cmd[0] == "python3"
    proc = subprocess.run(
        [sys.executable, *cmd[1:], "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.strip().splitlines()


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric_and_passes_checks(workload, trace):
    lines = _run(workload, trace)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    catalogue = PER_LAYER if trace else END_TO_END
    assert set(result["metrics"]) == set(catalogue)
    for name, unit in catalogue.items():
        assert result["metrics"][name]["unit"] == unit
        assert any(line.startswith(f"{name} ") and line.split()[2] == unit
                   for line in lines), name
    if not trace:
        for name in END_TO_END:
            assert result["metrics"][name]["value"] > 0, name
    checks = [line for line in lines if line.startswith("check ")]
    assert checks and all(line.endswith(": ok") for line in checks), checks
    assert any(line.startswith("failed_frac ") for line in lines)
    if workload == "gateway_sync":
        assert any(line.startswith("sync_s ") for line in lines)


def test_refuses_to_run_without_the_program():
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    import shutil

    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    try:
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "registry_batch",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
