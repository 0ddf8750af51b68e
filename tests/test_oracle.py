"""Mirror of the driver's correctness gate: every oracle-checkable query
runs on Spark AND DuckDB at sf0.001; row counts, column names, and
order-insensitive canonicalized values must match exactly.

The same build of each registered query also runs the catalog plan
gates (`build_gated`): scalar, identifier-named output columns, no
CartesianProduct, and no unpartitioned window outside the audited
whitelist — including windows inside subtrees a localCheckpoint hides.
"""

from __future__ import annotations

import math
import re

import pandas as pd
import pytest

from hw_kafka_flink_health_spark.plans import (
    analyzed_str,
    capture_checkpoints,
    unpartitioned_specs,
)
from hw_kafka_flink_health_spark.queries import ORACLES, QUERIES

from tests.conftest import SF_DIR
from tests.test_window_sweep import AUDITED_BOUNDED

IDENTIFIER = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def assert_driver_scalar_schema(name: str, df) -> None:
    """Catalog-wide lint: the external driver canonicalizes query output via
    pandas sort_values/factorize, which cannot hash list/dict cells — every
    registered query must emit only atomic-typed columns (r03's one red row,
    basket_frequent_itemsets, was an array<string> output column)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: non-scalar output columns (driver canonicalizer would crash): {bad}"
    )


def canon(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive canonical form: sorted columns, stringified cells,
    sorted rows."""
    cols = sorted(df.columns)
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
    return out


def oracle_diff(spark_pdf: pd.DataFrame, other_pdf: pd.DataFrame) -> str | None:
    """Why two results of one query differ, or None when they match:
    column names (case-insensitive), then row count, then the
    order-insensitive canonical values with up to five rows found on
    only one side."""
    cols, other_cols = sorted(spark_pdf.columns), sorted(other_pdf.columns)
    if sorted(map(str.lower, cols)) != sorted(map(str.lower, other_cols)):
        return f"column mismatch {cols} vs {other_cols}"
    if len(spark_pdf) != len(other_pdf):
        return f"row count {len(spark_pdf)} vs {len(other_pdf)}"
    case = {c.lower(): c for c in cols}
    other_pdf = other_pdf.rename(columns={c: case[c.lower()] for c in other_cols})
    s, o = canon(spark_pdf), canon(other_pdf)
    if s == o:
        return None
    s_rows, o_rows = set(s), set(o)
    spark_only = [r for r in s if r not in o_rows][:5]
    other_only = [r for r in o if r not in s_rows][:5]
    return f"value mismatch\n spark-only: {spark_only}\n other-only: {other_only}"


@pytest.fixture(scope="module", autouse=True)
def cold_operator_caches():
    """Clear the session-scoped operator caches once, so every cached
    subtree (dedup pairs and clusters, graph edges) is built, and so
    captured, inside this module. Warm from earlier tests, each
    dedup/graph-family query would be a cache hit and a window added
    inside those operators would pass the window gate."""
    from hw_kafka_flink_health_spark.operators import dedup
    from hw_kafka_flink_health_spark.queries import graph

    dedup._PAIRS.clear()
    dedup._CLUSTERS.clear()
    graph._EDGES.clear()


def temp_view_names(spark) -> set[str]:
    """The session's temp view names."""
    names = spark._jsparkSession.sessionState().catalog().getTempViewNames()
    return set(names.mkString("\n").split("\n")) - {""}


def temp_function_names(spark) -> set[str]:
    """The session's temporary function names."""
    fns = spark._jsparkSession.sessionState().catalog().listTemporaryFunctions()
    return set(fns.mkString("\n").split("\n")) - {""}


def _conf_diff(spark, before) -> dict:
    """key -> (before, now) for every SQL conf that differs from the
    `getAllConfs()` snapshot `before`."""
    to_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    now = spark._jsparkSession.sessionState().conf().getAllConfs()
    a, b = dict(to_java(before)), dict(to_java(now))
    return {k: (a.get(k), b.get(k)) for k in a.keys() | b.keys() if a.get(k) != b.get(k)}


def build_gated(name: str, spark):
    """Build QUERIES[name] once and run the catalog plan gates on it.

    * scalar output columns (`assert_driver_scalar_schema`);
    * identifier-only column names: the driver hash-compares columns BY
      NAME against the DuckDB oracle, so a forgotten alias (a column
      named like `round(avg(x), 2)` or `count(1)`) breaks the match even
      when values agree;
    * no CartesianProduct in the physical plan, the one join shape that
      cannot survive any scale-up (1-row broadcast nested loops from
      scalar subqueries are fine and are not matched);
    * no unpartitioned window over the analyzed plan or any subtree a
      localCheckpoint hid, unless the query is in AUDITED_BOUNDED — and
      a whitelisted query must still have one, or its entry is stale.
      See tests/test_window_sweep.py for the boundedness taxonomy.
    * the session is left as it was found: no temp view or temporary
      function name added or dropped and no SQL conf written (all read
      on the JVM side, well under a millisecond each; `spark.catalog.listTables` and
      `spark.conf.getAll` cost tens to hundreds of ms a call). A query
      that repoints a view the caller registered keeps the names; that
      case is tests/test_recursive_hygiene.py's.
    """
    captured: list[str] = []
    conf = spark._jsparkSession.sessionState().conf()
    views, confs = temp_view_names(spark), conf.getAllConfs()
    fns = temp_function_names(spark)
    with capture_checkpoints(captured):
        df = QUERIES[name](spark, SF_DIR)
    assert temp_view_names(spark) == views, (
        f"{name}: building changed the session's temp views "
        f"{sorted(views)} -> {sorted(temp_view_names(spark))}"
    )
    assert temp_function_names(spark) == fns, (
        f"{name}: building changed the session's temporary functions "
        f"{sorted(fns)} -> {sorted(temp_function_names(spark))}"
    )
    assert conf.getAllConfs().equals(confs), (
        f"{name}: building wrote session conf: {_conf_diff(spark, confs)}"
    )
    assert_driver_scalar_schema(name, df)
    bad = [c for c in df.columns if not IDENTIFIER.match(c)]
    assert not bad, f"{name}: output columns are not plain identifiers: {bad}"
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in physical, f"{name}: plans a CartesianProduct"
    hits = sorted(
        {h for p in [analyzed_str(df), *captured] for h in unpartitioned_specs(p)}
    )
    if name in AUDITED_BOUNDED:
        assert hits, (
            f"{name}: whitelisted in AUDITED_BOUNDED but has no unpartitioned "
            "window left (prune the entry)"
        )
    else:
        assert not hits, (
            f"{name}: unpartitioned window over input not audited as bounded — "
            "either fix the plan (distributed_row_number / global_prefix_sum) "
            f"or audit and whitelist it with a boundedness argument: {hits}"
        )
    return df


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(name, spark, duck):
    sdf_spark = build_gated(name, spark)
    diff = oracle_diff(sdf_spark.toPandas(), duck.execute(ORACLES[name]).df())
    assert diff is None, f"{name}: {diff}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark):
    df = build_gated(name, spark)
    assert df.count() >= 0
    assert len(df.columns) > 0
