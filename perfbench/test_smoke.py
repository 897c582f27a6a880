"""Smoke test of the benchmark: every workload once at tiny size, untraced
and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that the printed metric names are exactly those of
BENCHMARK.json, that the traced ingest step spans of each set-up quarter
sum to within 10% of its wall, and that the command fails cleanly
without the engine.
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
WORKLOADS = ("dashboard_mix", "registry_headline")
STEPS = ("sources.extract_zip", "sources.typed_write", "operators.facts", "operators.documents")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace)]
    if cwd == ROOT:
        cmd.append("--smoke")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", (0, 1))
def test_workload_prints_benchmark_metrics(workload: str, trace: int):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    key = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in _bench()[key]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in last["metrics"].values())
    if trace and workload == "dashboard_mix":
        with open(os.path.join(ROOT, ".perfbench", "trace-dashboard_mix-5.json")) as fh:
            spans = json.load(fh)["spans"]
        quarters = [s for s in spans if s["name"] == "bench.quarter"]
        assert quarters
        for q in quarters:
            steps = sum(s["end_s"] - s["start_s"] for s in spans
                        if s["parent"] == q["id"] and s["name"] in STEPS)
            assert abs(steps - (q["end_s"] - q["start_s"])) <= 0.1 * (q["end_s"] - q["start_s"])


def test_fails_without_the_engine():
    alone = os.path.join(ROOT, ".perfbench", "standalone")
    shutil.rmtree(alone, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(alone, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__", ".*"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), alone)
        proc = _run("dashboard_mix", 0, cwd=alone)
    finally:
        shutil.rmtree(alone, ignore_errors=True)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
