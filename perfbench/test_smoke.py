"""Smoke test for the benchmark itself, at tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Runs every workload named in BENCHMARK.json, plus the ungated
`catalog_iterative`, once untraced and once traced
with `--tiny` (sf0.001 tables, a small stream), and checks that the last
stdout line carries exactly the keys correct/attempted/failed/metrics, every metric of the mode
with its unit, no failed operation, and a zero failed share in the run
record. A last test copies only BENCHMARK.json and the benchmark's files
into an empty directory and checks the benchmark refuses to run there.
About three minutes on 4 cores.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "3", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
# catalog_iterative is runnable but not gated (see README); smoke it too
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]] + ["catalog_iterative"])
def test_tiny_run_reports_every_metric(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    rec_path = os.path.join(ROOT, ".perfbench_work", "records", f"last_{workload}_tiny_trace{trace}.json")
    with open(rec_path) as fh:
        assert json.load(fh)["failed_share"] == 0


def test_refuses_without_the_program():
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = _run(bare, BENCH["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
