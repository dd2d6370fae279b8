"""Toy-size smoke run of every workload, untraced and traced: the run exits
0, its output checks pass, and the metrics it prints carry exactly the
names and units BENCHMARK.json declares. Also checks that the benchmark
refuses to run (non-zero exit, no result line) without the package.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
SPEC = json.loads((REPO / "BENCHMARK.json").read_text())


def run_bench(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "toy"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_smoke(workload, trace):
    out = run_bench(REPO, workload, trace)
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    values = [v["value"] for v in res["metrics"].values()]
    assert all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in values)
    if not trace:
        assert all(v > 0 for v in values)


def test_refuses_without_package():
    bare = REPO / ".perfbench" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(REPO / "BENCHMARK.json", bare)
        for p in SPEC["paths"]:
            shutil.copytree(REPO / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
        out = run_bench(bare, SPEC["workloads"][0]["name"], 0)
        assert out.returncode != 0
        assert '"metrics"' not in out.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
