"""Stream-stream (and batch) interval joins.

The reference has no joins of any kind (SURVEY §2.B); this is the
extension-surface operator for correlating two event streams in time —
e.g. attributing each reading to the medication dose that preceded it,
or each purchase to the click that led to it.

Semantics: inner-join rows where keys match and
``left_ts ∈ [right_ts + lower, right_ts + upper]``.

Scale/streaming posture:
* Both sides get a watermark; Spark derives the state-retention bound
  from the watermark + the interval condition, so join state is evicted
  instead of growing forever (the failure mode of unbounded
  stream-stream joins).
* The same function works on batch DataFrames (watermarks are skipped) —
  the batch twin is what the DuckDB oracle checks; Catalyst plans it as
  an equi join on the key with the time bounds as post-join predicates,
  NOT a nested-loop: the equi key keeps it hash-partitionable at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    upper: str = "10 minutes",
    watermark: str = "30 seconds",
    how: str = "inner",
) -> DataFrame:
    """Interval join; columns from both sides survive (key once).

    The left timestamp must fall in [right, right + `upper`], with
    `upper` an INTERVAL string. Streaming inputs are watermarked on their own timestamp;
    batch inputs pass through unchanged.

    `how` may be "inner", "left_outer", "right_outer", or "full_outer".
    Streaming outer variants emit the null-padded row for an unmatched
    event only once the watermark has passed the interval's bound (the
    row provably cannot match anymore) — both watermarks plus the
    time-range condition are what make that eviction decision possible,
    per Spark's outer-join requirement for stream-stream joins.
    """
    if how not in ("inner", "left_outer", "right_outer", "full_outer"):
        raise ValueError(f"unsupported interval-join type: {how!r}")
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    # Rename the right key BEFORE joining: when both sides derive from the
    # same scan (the common self-join case), lw[on]/rw[on] carry identical
    # expression ids and drop(rw[on]) can silently remove the LEFT key —
    # keeping the null-padded right one under outer joins. A distinct name
    # makes resolution unambiguous for any lineage.
    rw = rw.withColumnRenamed(on, "__rkey")
    cond = (
        (lw[on] == rw["__rkey"])
        & (lw[left_ts] >= rw[right_ts] + F.expr("INTERVAL 0 seconds"))
        & (lw[left_ts] <= rw[right_ts] + F.expr(f"INTERVAL {upper}"))
    )
    joined = lw.join(rw, cond, how)
    if how in ("right_outer", "full_outer"):
        # the left key is null on right-unmatched rows: surface ONE key
        # column that is non-null wherever a key exists
        joined = joined.withColumn(on, F.coalesce(lw[on], rw["__rkey"]))
    return joined.drop("__rkey")
