"""Time-series operators over the event stream: regular-grid resampling
with gap-fill (forward fill), and snapshot diffing (CDC-style).

The reference's pipeline is a time-series monitor (per-patient heart-rate
windows, `/root/reference/src/flink_job.py:104-128`); these extend that
surface with the batch time-series operations a monitoring/feature
pipeline needs: a dense time grid per key (ML feature matrices can't have
holes) and table-diffing between snapshot versions.

Scale posture:

* The spine is built per-key with `sequence()` + `explode` — row count is
  exactly the output grid, never a cross join of keys x global calendar.
* The spine→observations join is an equi-join on (key, bucket); both
  sides are pre-aggregated, so the shuffle is on the small grid, not raw
  events. With AQE on, skewed keys re-split automatically.
* Forward fill is one window pass (`last(..., ignorenulls=True)`) — at
  scale it range-partitions by key, which is the same shuffle the join
  already did; Catalyst reuses the partitioning, so no extra exchange.
* `snapshot_diff` is a single full-outer join on the key with row-content
  hashes computed map-side; at 100 TB both sides bucket by key so the
  join is exchange-free if snapshots share the bucketing layout
  (see operators/storage.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def resample_forward_fill(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Resample per-key observations onto a dense 1-day grid from each
    key's first to last observation, averaging within buckets and
    forward-filling empty buckets with the most recent average.

    Output: (key, bucket_start, avg_in_bucket nullable, value_ffill,
    is_gap flag). ``value_ffill`` is null only for leading gaps (none by
    construction, since the grid starts at the first observation).
    """
    bucketed = (
        events.groupBy(F.col(key_col), F.window(F.col(ts_col), "1 day"))
        .agg(F.avg(value_col).alias("bucket_avg"))
        .select(
            F.col(key_col),
            F.col("window.start").alias("bucket_ts"),
            "bucket_avg",
        )
    )
    spine = (
        bucketed.groupBy(key_col)
        .agg(
            F.min("bucket_ts").alias("_lo"),
            F.max("bucket_ts").alias("_hi"),
        )
        .select(
            F.col(key_col),
            F.explode(
                F.sequence("_lo", "_hi", F.expr("INTERVAL 1 day"))
            ).alias("bucket_ts"),
        )
    )
    joined = spine.join(bucketed, [key_col, "bucket_ts"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col(key_col),
        F.col("bucket_ts"),
        F.col("bucket_avg"),
        F.last("bucket_avg", ignorenulls=True).over(w).alias("value_ffill"),
        F.when(F.col("bucket_avg").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_gap"),
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key_cols: list[str]
) -> DataFrame:
    """CDC-style diff of two table snapshots keyed by `key_cols`:
    one row per changed key with status 'added' / 'removed' / 'changed'.

    Non-key columns are compared via a map-side md5 over all of them
    (null-safe: nulls hash as a sentinel), so the full-outer join carries
    only (key, hash) — the comparison never shuffles payload columns.
    """
    payload = [c for c in old.columns if c not in key_cols]
    if payload != [c for c in new.columns if c not in key_cols]:
        raise ValueError("snapshot schemas differ")

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        h = F.md5(
            F.concat_ws(  # \x1f separator: 'ab','c' must not collide with 'a','bc'
                "\u001f", *[F.coalesce(F.col(c).cast("string"), F.lit("\u0000")) for c in payload]
            )
        )
        return df.select(*key_cols, h.alias(f"_h_{tag}"))

    o, n = hashed(old, "old"), hashed(new, "new")
    joined = o.join(n, key_cols, "full_outer")
    status = (
        F.when(F.col("_h_old").isNull(), "added")
        .when(F.col("_h_new").isNull(), "removed")
        .when(F.col("_h_old") != F.col("_h_new"), "changed")
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*key_cols, "status")
    )
