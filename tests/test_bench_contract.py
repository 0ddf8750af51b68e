"""bench.py driver contract: exactly one JSON line on stdout with the
required keys, runnable against any SF dir."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest


@pytest.mark.slow  # ~7 min subprocess bench at sf0.001; full-suite tier
def test_bench_emits_single_json_line(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    detail = str(tmp_path / "BENCH_DETAIL.json")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
        # never clobber the committed sf0.1 artifact with toy-scale numbers
        SPARK_GRAFT_BENCH_DETAIL=detail,
    )
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=560,
        cwd="/tmp",  # must work from any cwd, like the driver
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.strip().splitlines() if l.strip()]
    assert len(lines) == 2, f"expected TWO lines, got {len(lines)}: {lines[:3]}"
    # line 1: full record with the complete per-query map
    doc = json.loads(lines[0])
    assert doc["unit"] == "sec" and isinstance(doc["value"], (int, float))
    assert doc["sf"] == 0.001
    assert doc["queries"] and all(isinstance(v, (int, float)) for v in doc["queries"].values())
    assert abs(sum(doc["queries"].values()) - doc["value"]) < 0.01
    # LAST line: size-bounded summary that survives a fixed-size tail
    # capture. The driver's tail window is 2000 chars (a longer line
    # parsed to null in r3); 1900 leaves margin for the trailing newline.
    tail = json.loads(lines[-1])
    assert len(lines[-1]) <= 1900, f"summary line too long: {len(lines[-1])}"
    assert tail["value"] == doc["value"] and tail["unit"] == "sec"
    assert tail["n_queries"] == len(doc["queries"])
    assert set(tail["queries"]) <= set(doc["queries"])
    # the PINNED tracked set is carried every run (r13: the comparator
    # previously saw only top-10-of-the-run churn); every tracked name
    # the run timed must appear in the summary line
    import bench

    timed_tracked = set(bench.TRACKED) & set(doc["queries"])
    missing = timed_tracked - set(tail["queries"])
    assert not missing, f"tracked names missing from summary: {missing}"
    # the complete map is persisted at the redirected detail path
    with open(detail) as f:
        detail_doc = json.load(f)
    assert detail_doc["queries"] == doc["queries"]
    # environment fingerprint (VERDICT r9): calibrated CPU score + box
    # identity so cross-round drift is adjudicable from the artifact
    fp = doc["fingerprint"]
    assert fp["cpu_score_mib_s"] > 0
    assert fp.get("python") and fp.get("spark")


def test_headline_names_resolve_in_registry():
    """Static guard: every bench headline name must be a registered
    query (a typo here would only surface in the driver's bench run)."""
    import bench

    from hw_kafka_flink_health_spark.queries import QUERIES

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, missing


def test_bench_detail_queries_are_registered():
    """Drift guard (the converse of the headline check): every query name
    recorded in the committed BENCH_DETAIL.json must still resolve in the
    registry — a renamed/removed catalog entry would otherwise keep
    stale timings in the judge-facing artifact unnoticed. Synthetic
    bench-only entries (the live streaming pipeline) are allowlisted."""
    import bench

    from hw_kafka_flink_health_spark.queries import QUERIES

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_DETAIL.json")) as f:
        detail = json.load(f)
    synthetic = {"streaming_alert_pipeline", "streaming_alert_pipeline_first"}
    stale = [n for n in detail["queries"] if n not in QUERIES and n not in synthetic]
    assert not stale, f"BENCH_DETAIL.json references unregistered queries: {stale}"
    # and the headline list itself contains no duplicates (double-timing)
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    # the pinned tracked set must stay resolvable too (a rename there
    # would silently drop a name from every future summary line)
    stale_tracked = [
        n for n in bench.TRACKED if n not in QUERIES and n not in synthetic
    ]
    assert not stale_tracked, stale_tracked
    assert len(bench.TRACKED) == len(set(bench.TRACKED))


def test_bench_fingerprint_keys(spark):
    """The environment fingerprint bench.py records with every run, built
    from perfbench's probes: the fast-tier twin of the fingerprint check
    in the subprocess bench test."""
    import bench

    from perfbench import envinfo

    fp = bench.fingerprint(spark, envinfo.snapshot())
    assert fp["cpu_score_mib_s"] > 0
    assert fp["python"] and fp["spark"]
    assert fp["nproc"] >= 1
