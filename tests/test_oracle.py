"""Mirror of the driver's correctness gate: every oracle-checkable query
runs on Spark AND DuckDB at sf0.001; row counts, column names, and
order-insensitive canonicalized values must match exactly."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from hw_kafka_flink_health_spark.queries import ORACLES, QUERIES

from tests.conftest import SF_DIR


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


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(name, spark, duck):
    sdf_spark = QUERIES[name](spark, SF_DIR)
    assert_driver_scalar_schema(name, sdf_spark)
    diff = oracle_diff(sdf_spark.toPandas(), duck.execute(ORACLES[name]).df())
    assert diff is None, f"{name}: {diff}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark):
    df = QUERIES[name](spark, SF_DIR)
    assert_driver_scalar_schema(name, df)
    assert df.count() >= 0
    assert len(df.columns) > 0
