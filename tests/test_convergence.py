"""Convergence self-verification for the bounded-round iterative
operators (round-7 verdict #3).

Every fixed-round loop in the catalog (k-core peel, DBSCAN cell-label
propagation, BFS expansion) trades an unbounded fixpoint iteration for a
round bound so the DuckDB twin can unroll the identical computation.
That trade is only sound if the bound actually REACHES the fixpoint on
the data at hand — a 100x-scale graph with a longer peel sequence or a
wider diameter could silently return a partial result that still
hash-matches its (equally partial) oracle. These tests pin the
"last-round delta == 0" property two independent ways:

* +1-round invariance: re-running the exact production code path with
  ROUNDS+1 must give a bit-identical result (monotone algorithms only
  shrink/relabel, so any non-converged state would change the output);
* where the output itself carries a fixpoint certificate (k-core: every
  surviving degree >= K iff no further peel is possible), assert the
  certificate directly — that check is scale-independent and is what a
  production run at 100 TB would assert.

`connected_components` needs no bound-vs-fixpoint test: its loop already
self-terminates on an explicit did-anything-change probe (the __changed
flag observed on each round's checkpoint in
operators/dedup.py:min_label_fixpoint) — here we pin that the early-exit
result equals a generously-bounded run on a worst-case path graph
(diameter == node count, the slowest-converging topology for min-label
propagation), and that the probe costs no job of its own.

The job-budget tests pin what each loop's design costs in Spark jobs:
one min-label round at most 7, and each recurrence that runs as one
operators/sequential.py:fold a fixed handful for the whole series.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators import dedup as dedup_mod
from hw_kafka_flink_health_spark.operators.dedup import connected_components
from hw_kafka_flink_health_spark.queries import QUERIES
from hw_kafka_flink_health_spark.queries import geo as geo_mod
from hw_kafka_flink_health_spark.queries import graph as graph_mod

from tests.conftest import count_jobs
from tests.test_oracle import oracle_diff

SF_DIR = "/root/testdata/sf0.001"


def _run(name, spark):
    return QUERIES[name](spark, SF_DIR).toPandas()


def test_kcore_bound_reaches_fixpoint(spark, monkeypatch):
    base = _run("graph_kcore", spark)
    monkeypatch.setattr(graph_mod, "_KCORE_ROUNDS", graph_mod._KCORE_ROUNDS + 1)
    assert oracle_diff(_run("graph_kcore", spark), base) is None


def test_kcore_output_certifies_fixpoint(spark):
    """Scale-independent certificate: the peel is at a fixpoint iff every
    SURVIVING node's degree (already in the output!) is >= K — stopping
    early necessarily leaves some survivor under K. This is the check a
    100 TB run asserts without re-running anything."""
    out = QUERIES["graph_kcore"](spark, SF_DIR)
    under = out.filter(F.col("core_degree") < graph_mod._KCORE_K).limit(1).count()
    assert under == 0


def test_dbscan_bound_reaches_fixpoint(spark, monkeypatch):
    """Min-label propagation is monotone decreasing and cluster_id IS the
    label, so any label still in flight would move a cell between output
    groups — aggregate equality under +1 round iff converged. DBSCAN runs
    the uncached loop: its edge frame must not evict the cluster map the
    dedup queries share."""
    cached = list(dedup_mod._CLUSTERS._entries)
    base = _run("geo_dbscan_cells", spark)
    monkeypatch.setattr(geo_mod, "_DBSCAN_ROUNDS", geo_mod._DBSCAN_ROUNDS + 1)
    assert oracle_diff(_run("geo_dbscan_cells", spark), base) is None
    assert list(dedup_mod._CLUSTERS._entries) == cached


def test_bfs_bound_reaches_fixpoint(spark, monkeypatch):
    """An extra BFS round adds rows iff the last frontier was non-empty."""
    base = _run("graph_bfs_distance", spark)
    monkeypatch.setattr(graph_mod, "_BFS_ROUNDS", graph_mod._BFS_ROUNDS + 1)
    assert oracle_diff(_run("graph_bfs_distance", spark), base) is None


def _path_pairs(spark):
    """The path graph 0-1-2-...-9."""
    return spark.createDataFrame([(i, i + 1) for i in range(9)], "doc1 long, doc2 long")


def test_connected_components_early_exit_is_fixpoint(spark):
    """Worst-case diameter: a path graph 0-1-2-...-9 needs the most
    min-label rounds of any 10-node topology. The early-exit run must
    equal a generously-bounded one AND the known answer (all nodes
    labeled 0)."""
    pairs = _path_pairs(spark)
    got = connected_components(pairs).toPandas()
    assert sorted(got["node"]) == list(range(10))
    assert set(got["cluster_id"]) == {0}
    generous = connected_components(pairs, max_iterations=50).toPandas()
    assert oracle_diff(got, generous) is None


def test_min_label_round_job_budget(spark):
    """One min-label round costs at most 7 jobs: the convergence probe
    rides the round's eager checkpoint instead of running an action of
    its own. The path graph has not converged after 3 or 4 rounds, so
    the two runs' job counts differ by exactly one round."""
    pairs = _path_pairs(spark)
    jobs = []
    for rounds in (3, 4):
        dedup_mod._CLUSTERS.clear()
        jobs.append(
            count_jobs(
                spark,
                f"min-label-{rounds}-rounds",
                lambda: connected_components(pairs, max_iterations=rounds),
            )
        )
    assert jobs[1] - jobs[0] <= 7, jobs


@pytest.mark.parametrize(
    "name, budget",
    [
        ("recursive_holt_linear_trend", 8),
        ("recursive_holt_winters_daily", 8),
        ("embedding_mmr_select", 4),
        ("retrieval_mmr_rerank", 10),
        ("timeseries_croston", 8),
        ("timeseries_dtw_band", 5),
        ("events_markov_stationary", 8),
    ],
)
def test_sequential_fold_job_budget(spark, name, budget):
    """The short sequential recurrences (Holt, Holt-Winters, both greedy
    MMR loops, Croston, banded DTW, the Markov power iteration) run as
    one operators/sequential.py:fold, so building and
    collecting one costs a fixed handful of jobs for the whole series,
    not one or more per recursion step."""
    out = []
    jobs = count_jobs(spark, f"fold-{name}", lambda: out.append(_run(name, spark)))
    assert len(out[0]) > 0
    assert jobs <= budget, jobs
