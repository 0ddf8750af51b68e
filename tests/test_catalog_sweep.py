"""ONE full-catalog build pass feeding every catalog-wide structural
gate (r13 suite-runtime fix, VERDICT r12 #2): the window sweep, the
cartesian-product screen, and the driver column-name lint each used to
build all 420 queries independently — three ~155 s sweeps whose only
difference was which property of the same plans they read. The external
verify window could not fit the suite (r12 shipped with `tests_ok:
false` on a timeout, zero failures). The module-scoped fixture below
builds each query once, capturing everything all three gates need:

* pre-checkpoint ANALYZED subtrees (`capture_checkpoints` — a
  localCheckpoint otherwise hides its input plan from any later
  inspection; the r10 lesson),
* the final analyzed plan (untruncated — maxToStringFields, r12),
* the initial physical plan (CartesianProduct detection),
* the output columns (driver canonicalization contract).

The assertions are verbatim from their previous homes
(tests/test_window_sweep.py, tests/test_plans.py,
tests/test_bench_contract.py) — the gates did not get weaker, they
share a build.
"""

from __future__ import annotations

import re

import pytest

from hw_kafka_flink_health_spark.plans import (
    analyzed_str,
    capture_checkpoints,
    unpartitioned_specs,
)
from hw_kafka_flink_health_spark.queries import QUERIES

from tests.conftest import SF_DIR
from tests.test_window_sweep import AUDITED_BOUNDED


@pytest.fixture(scope="module")
def catalog_sweep(spark):
    # Clear the session-scoped operator caches: warm from earlier tests
    # in this session, every dedup/graph-family query would be a cache
    # HIT and the pairs/cluster/edge subtrees would be captured ZERO
    # times — a window added inside those operators would pass the gate
    # green (review r12).
    from hw_kafka_flink_health_spark.operators import dedup as _dd
    from hw_kafka_flink_health_spark.queries import graph as _g

    _dd._PAIRS.clear()
    _dd._CLUSTERS.clear()
    _g._EDGES.clear()

    captured: list[str] = []
    entries: dict[str, dict] = {}
    build_errors: dict[str, str] = {}
    n_checkpoints = 0
    with capture_checkpoints(captured):
        for name in sorted(QUERIES):
            captured.clear()
            try:
                df = QUERIES[name](spark, SF_DIR)
                entry = {
                    "columns": list(df.columns),
                    "analyzed": analyzed_str(df),
                    "captured": list(captured),
                    "physical": df._jdf.queryExecution().executedPlan().toString(),
                }
            except Exception as e:  # noqa: BLE001
                build_errors[name] = repr(e)[:200]
                continue
            n_checkpoints += len(captured)
            entries[name] = entry
    assert not build_errors, f"queries failed to build: {build_errors}"
    return {"queries": entries, "n_checkpoints": n_checkpoints}


def test_no_unaudited_unpartitioned_window_anywhere(catalog_sweep):
    """Fail on any unpartitioned window outside the audited whitelist —
    in either direction (a stale whitelist entry also fails, so the list
    tracks reality). See tests/test_window_sweep.py for the boundedness
    taxonomy and the parser self-checks."""
    violators: dict[str, list[str]] = {}
    for name, entry in catalog_sweep["queries"].items():
        plans = [entry["analyzed"]] + entry["captured"]
        hits = sorted({h for p in plans for h in unpartitioned_specs(p)})
        if hits:
            violators[name] = hits
    # The capture itself must be ALIVE: the r11 patch targeted the
    # pyspark.sql.DataFrame base while Spark 4 instances are
    # classic.DataFrame with their own localCheckpoint, so zero subtrees
    # were ever captured and the sweep silently degraded to
    # final-plan-only. Dozens of queries checkpoint — a zero here means
    # the patch lost the concrete class again.
    assert catalog_sweep["n_checkpoints"] > 20, (
        f"checkpoint capture looks dead (captured "
        f"{catalog_sweep['n_checkpoints']} subtrees across the whole "
        "catalog) — is the concrete DataFrame class patched?"
    )
    unaudited = {n: v for n, v in violators.items() if n not in AUDITED_BOUNDED}
    assert not unaudited, (
        "unpartitioned window over input not audited as bounded — either fix "
        "the plan (distributed_row_number / global_prefix_sum) or audit and "
        f"whitelist it with a boundedness argument: {unaudited}"
    )
    stale = sorted(set(AUDITED_BOUNDED) - set(violators))
    assert not stale, (
        f"whitelist entries with no unpartitioned window left (prune them): {stale}"
    )


def test_catalog_never_plans_cartesian_product(catalog_sweep):
    """No query in the catalog may degenerate into CartesianProduct —
    the one plan shape that cannot survive any scale-up. (1-row broadcast
    nested loops from scalar subqueries are fine and excluded by name.)"""
    for name, entry in catalog_sweep["queries"].items():
        assert "CartesianProduct" not in entry["physical"], name


def test_all_query_columns_are_aliased_stable_names(catalog_sweep):
    """Driver-contract safeguard: the correctness gate hash-compares
    columns BY NAME between Spark and the DuckDB oracle, so a forgotten
    alias (a column named like `round(avg(x), 2)` or `count(1)`) breaks
    the match even when values agree. Every registry query must emit
    plain identifier column names."""
    ident = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
    offenders = {}
    for name, entry in catalog_sweep["queries"].items():
        bad = [c for c in entry["columns"] if not ident.match(c)]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders
