"""Smoke test of the benchmark: a tiny-size pass of every workload,
untraced and traced, asserting that each declared metric is printed
and that no operation failed.

    python3 -m pytest perfbench/test_smoke.py -q

Each invocation starts its own Spark JVM (about half a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = ("extract_mix", "extract_sharded_small", "query_suite")


def _run(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_pass(workload, trace):
    result, stdout = _run(workload, trace)
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    assert result["failed"] == 0 and result["correct"], stdout
    assert result["attempted"] >= 1
    assert "failed_frac 0.0000" in stdout
    if not trace:
        for name in ("setup_s", "wall_s", "cpu_s", "peak_rss_mb"):
            assert f"\n{name} " in stdout
        if workload != "query_suite":
            assert "\nturns_per_s " in stdout


def test_every_workload_is_declared():
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)


def test_refuses_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    without printing a result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
