"""Incremental aggregate maintenance: algebraic partials + merge + finalize.

Extension surface (SURVEY.md §2.C): the reference recomputes its batch
analysis from scratch per run (`/root/reference/src/spark_batch_analysis.py`
reads the whole alerts dir every time); at 100 TB a daily rollup must never
re-touch history. The standard fix is the algebraic-aggregate contract
(partial -> merge -> finalize, the same shape Spark's own partial_/final_
HashAggregate uses inside one query, lifted across RUNS):

* `daily_partials` turns one ingest partition into per-(day, key) partial
  states — count / sum / min / max — each a scan of ONLY that partition.
* `merge_partials` folds any number of partial tables with a re-aggregate
  on the same keys: associative + commutative, so delta order never
  matters and a crashed merge can simply re-run.
* `finalize_rollup` derives the non-algebraic outputs (avg = sum/count)
  at read time — they are never stored, so merges stay lossless.

Cost model at scale: maintaining the rollup costs O(new partition) + a
merge proportional to DISTINCT KEYS, instead of O(all history) per
refresh. The merge itself is one hash shuffle of partial rows (already
tiny: one row per key-day), and the whole pipeline is plain Catalyst —
partial pushdown, map-side combine, AQE all apply.

Correctness contract (oracle-checked): folding any partition split of the
input through partials+merge+finalize equals the one-shot aggregate over
the union — `incremental_rollup` in the registry pins split-vs-full
equality against DuckDB, and tests pin merge associativity.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_partials(events: DataFrame) -> DataFrame:
    """Per-(day, key) algebraic partial states for one ingest slice.

    Emits only mergeable states (count/sum/min/max). The sum is carried
    as EXACT integer cents (floor(value*100 + 0.5) as bigint): double sums
    are order-dependent in their last bits, which makes "merge order
    never matters" only approximately true — and approximately is not
    a contract. Integer partials make merge bit-exact, associative, and
    engine-portable (the same trick `queries/analytics.py` uses for
    revenue and regression sums). min/max are order-independent already
    and stay double.
    """
    return (
        events.groupBy(
            F.to_date(F.col("ts")).alias("day"),
            F.col("event_type").alias("key"),
        ).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.floor(F.col("value").cast("double") * 100 + 0.5).cast("bigint")
            ).alias(
                "sum_cents"
            ),
            F.min(F.col("value").cast("double")).alias("min_value"),
            F.max(F.col("value").cast("double")).alias("max_value"),
        )
    )


def merge_partials(*partials: DataFrame) -> DataFrame:
    """Fold partial tables into one: unionByName + one hash re-aggregate.

    Associative/commutative by construction (sum of sums, min of mins),
    so `merge(merge(a,b),c) == merge(a,merge(b,c))` row-for-row — the
    property that makes retries and out-of-order delta application safe.
    """
    unioned = reduce(lambda a, b: a.unionByName(b), partials)
    return unioned.groupBy("day", "key").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_cents").alias("sum_cents"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


def finalize_rollup(partials: DataFrame) -> DataFrame:
    """Read-time derivation of non-algebraic outputs (avg = sum/cnt).

    Every float here is derived from the exact integer sum by the same
    two divisions any other engine would run, so finalize output is
    bit-deterministic — merge order, partition count, and engine cannot
    move it."""
    sum_v = F.col("sum_cents").cast("double") / F.lit(100.0)
    return partials.select(
        "day",
        "key",
        F.col("cnt").cast("long").alias("cnt"),
        F.round(sum_v, 2).alias("sum_value"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
        F.round(sum_v / F.col("cnt"), 4).alias("avg_value"),
    )
