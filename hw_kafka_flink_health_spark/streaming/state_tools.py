"""Offline state-store inspection (Spark 4 state data source).

The state behind a streaming query is normally a black box: you see its
row counts in query progress, never its contents. Spark 4's
``statestore`` / ``state-metadata`` batch readers open the checkpoint
directly — the debugging/ops surface for questions like "which windows
are still open for this key", "is state growing without bound", "what
did the store hold when the job crashed" — WITHOUT touching the running
query or replaying the stream. The reference has no analog (its Flink
state is opaque, `src/flink_job.py:104-111`); at 100 TB this is how a
state-size incident is diagnosed: read the store as a table, group by
key, find the hot/leaking keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_state(
    spark: SparkSession,
    checkpoint_dir: str,
    *,
    operator_id: int = 0,
) -> DataFrame:
    """Read a streaming operator's state store as a batch DataFrame
    (key struct, value struct, partition_id) at the latest committed
    batch."""
    return (
        spark.read.format("statestore")
        .option("operatorId", operator_id)
        .load(checkpoint_dir)
    )


def read_state_metadata(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Operator-level state metadata: operator name, store name,
    partition count, min/max retained batch ids."""
    return spark.read.format("state-metadata").load(checkpoint_dir)


def state_summary(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """One row per stateful operator: metadata joined with the live row
    count of its store — the first table to look at in a state-size
    incident."""
    md = read_state_metadata(spark, checkpoint_dir)
    ops = [r["operatorId"] for r in md.select("operatorId").distinct().collect()]
    counts = None
    for op in ops:
        c = (
            read_state(spark, checkpoint_dir, operator_id=op)
            .agg(F.count(F.lit(1)).alias("state_rows"))
            .select(F.lit(op).alias("operatorId"), "state_rows")
        )
        counts = c if counts is None else counts.unionByName(c)
    if counts is None:
        return md.withColumn("state_rows", F.lit(0).cast("long"))
    return md.join(counts, "operatorId", "left")
