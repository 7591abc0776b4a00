"""Smoke test of the benchmark on tiny fixtures: every operation runs,
every oracle passes and every metric named in BENCHMARK.json is reported.

    python3 -m pytest perfbench/test_smoke.py -q
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fp:
    CONTRACT = json.load(_fp)


@pytest.mark.parametrize("workload", [w["name"] for w in CONTRACT["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report = json.loads(lines[-2])["report"]
    assert result["correct"] is True, report["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = CONTRACT["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
    ops = report["ops"]
    assert all(st["n"] >= 1 for st in ops.values())
    assert all(f"{name}_p50_s" in report for name in ops)
    assert ("mpx_per_s" if workload == "raster" else "rows_per_s") in report
    # The process-tree walk reaches the Python daemon and its workers.
    assert report["python_worker_processes"] >= 1
    if trace:
        trace_dir = os.path.join(ROOT, report["trace_dir"])
        assert os.path.getsize(os.path.join(trace_dir, "spans.jsonl")) > 0
        with open(os.path.join(trace_dir, "layers.json"), encoding="utf-8") as fp:
            table = json.load(fp)
        assert "trace.overhead_pct" in table["workload (per cycle)"]


def test_fails_without_the_package(tmp_path):
    """Outside a checkout of the engine the benchmark exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "raster", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, check=False)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
