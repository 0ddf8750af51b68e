"""`catalog_short` and `catalog_iterative`: closed-loop query sweeps.

One client thread runs registered catalog queries back to back in a
seeded order (a fresh permutation per pass) on tables synthesized from the
seed. One execution is the query's DataFrame construction plus a noop
write, the way `bench.py` forces a query.

* Set-up: a cold first pass that collects every query's result and
  compares it with the query's DuckDB oracle (the canonical value form of
  tests/test_oracle.py), then one untimed warm pass. This
  fills the program's cross-query caches and lets the JIT settle; the
  Spark time of both is part of `setup_s`. A query whose cold result
  mismatches counts every one of its timed executions as failed.
* Timed window: passes until `--seconds` have elapsed; the clock is
  checked between executions.
"""

from __future__ import annotations

import math
import os
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Short, oracle-checked queries at sf0.01, drawn from nine catalog modules;
# each runs in 0.2-0.35 s fully warm on 4 cores, so the tail measures
# variability rather than which query ran.
SHORT = [
    "hr_alerts_tumbling",  # reference
    "q4_priority_exists",  # tpch
    "q1_pricing_summary", "agg_grouping_sets",  # relational
    "funnel_conversion",  # analytics
    "dedup_keep_best",  # text
    "agg_percentile_cont_disc", "median_value_by_type",  # stats
    "eval_auc_roc", "eval_pr_curve",  # evalmetrics
    "mlprep_target_encoding_kfold",  # mlprep
    "events_ewma",  # timeseries
]
# The fixpoint / cache family: per-round eager actions, localCheckpoint,
# shuffles and the cross-query graph edge cache dominate.
ITERATIVE = [
    "graph_bfs_distance", "graph_label_propagation", "graph_kcore",
    "recursive_part_hierarchy_rollup", "basket_frequent_itemsets",
]
WORKLOADS = {
    "catalog_short": (SHORT, 0.01),
    "catalog_iterative": (ITERATIVE, 0.01),
}
TINY_SF = 0.001


def canon(df) -> list[tuple]:
    """Order-insensitive canonical form: columns sorted case-insensitively,
    floats by repr, None/NaN/NaT as one null token, rows sorted.

    The cell rules are those of `canon` in tests/test_oracle.py. Two
    differences are deliberate: the test renames the oracle's columns to
    Spark's casing before both sides are canonicalised, while here the
    oracle side is canonicalised before Spark starts, so columns sort
    case-insensitively instead; and the lowercased column names lead the
    form, so a renamed or missing column is a mismatch (the test checks
    column names in a separate assert)."""
    import pandas as pd

    cols = sorted(df.columns, key=str.lower)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        cells = []
        for x in row:
            if x is None or (isinstance(x, float) and math.isnan(x)) or x is pd.NaT:
                cells.append("∅")
            elif isinstance(x, float):
                cells.append(repr(x))
            else:
                cells.append(str(x))
        out.append(tuple(cells))
    out.sort()
    return [tuple(c.lower() for c in cols)] + out


def prepare(ctx) -> None:
    """Synthesize the tables and compute every oracle's expected canon
    before the program starts (DuckDB only; no Spark)."""
    import duckdb

    from hw_kafka_flink_health_spark.queries import ORACLES

    names, sf = WORKLOADS[ctx.workload]
    ctx.data = os.path.join(ctx.work, "data")
    gen.write_tables(ctx.data, TINY_SF if ctx.tiny else sf, ctx.seed)
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.data}/{t}.parquet')")
    ctx.expected = {n: canon(con.execute(ORACLES[n]).df()) for n in names}
    con.close()
    ctx.names = names


def _execute(spark, fn, data: str, tracer, tag: str) -> float:
    t0 = time.perf_counter()
    if tracer:
        tracer.group(tag, "build")
    df = fn(spark, data)
    if tracer:
        tracer.plan(df, tag)
        tracer.group(tag, "exec")
    df.write.format("noop").mode("overwrite").save()
    if tracer:
        tracer.end(tag)
    return time.perf_counter() - t0


def run(ctx) -> dict:
    from hw_kafka_flink_health_spark.queries import QUERIES

    spark, tracer = ctx.spark, ctx.tracer
    rng = np.random.default_rng([ctx.seed, 3])
    wrong, errors, cold = set(), [], {}

    # set-up: cold pass, collected and checked against the oracles
    for n in rng.permutation(ctx.names):
        t0 = time.perf_counter()
        try:
            pdf = QUERIES[n](spark, ctx.data).toPandas()
        except Exception as e:  # a failing query is counted, not fatal
            errors.append(f"{n}: {str(e)[:200]}")
            wrong.add(n)
            continue
        cold[n] = time.perf_counter() - t0
        if canon(pdf) != ctx.expected[n]:
            wrong.add(n)
    # one untimed warm pass while the JIT settles
    t0 = time.perf_counter()
    for n in rng.permutation(ctx.names):
        try:
            _execute(spark, QUERIES[n], ctx.data, None, "")
        except Exception as e:
            errors.append(f"{n}: {str(e)[:200]}")
            wrong.add(n)
    ctx.setup_s += sum(cold.values()) + time.perf_counter() - t0

    lat, per_query, attempted, failed = [], {}, 0, 0
    t_start, wall_start = time.perf_counter(), time.time()
    passes = 0
    while time.perf_counter() - t_start < ctx.seconds:
        passes += 1
        for n in rng.permutation(ctx.names):
            if time.perf_counter() - t_start >= ctx.seconds:
                break
            attempted += 1
            tag = f"{n}#{passes}"
            try:
                s = _execute(spark, QUERIES[n], ctx.data, tracer, tag)
            except Exception as e:
                failed += 1
                errors.append(f"{n}: {str(e)[:200]}")
                continue
            if n in wrong:
                failed += 1
            lat.append(s * 1000)
            per_query.setdefault(n, []).append((tag, s))
    window_s = time.perf_counter() - t_start
    return {
        "wall": (wall_start, time.time()),
        "latency_ms": lat,
        "throughput_per_s": len(lat) / window_s,
        "attempted": attempted,
        "failed": failed,
        "window_s": window_s,
        "detail": {
            "passes": passes,
            "queries": len(ctx.names),
            "cold_s": cold,
            "wrong": sorted(wrong),
            "errors": errors,
            "median_s": {n: float(np.median([s for _, s in v])) for n, v in per_query.items()},
        },
        "per_query": per_query,
    }
