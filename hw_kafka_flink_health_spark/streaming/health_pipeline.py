"""The reference's flagship pipeline, Spark-first (operators W1-W4, A1, C1, C2).

Reference pipeline (``src/flink_job.py:62-145`` + README Part 2):
Kafka JSON -> parse/validate -> watermark (5 s out-of-orderness) ->
key by patient -> 1-minute tumbling event-time window -> avg/min/max ->
classify -> JSON -> Kafka.

Design: the transformation core (`windowed_vitals`, `heart_rate_alerts`) is
a plain ``DataFrame -> DataFrame`` function that does not know whether its
input is streaming — Structured Streaming's unified API means the SAME code
is the streaming job and its deterministic batch twin (which is how the
tests and the DuckDB oracle exercise it).

Scale notes:
* The groupBy((window, key)) aggregation is a partial+final hash aggregate;
  in streaming it is backed by the StateStore keyed on (key, window) with
  watermark-driven eviction — both are Spark built-ins, no custom state.
* Key cardinality in the reference is 5 patients; at 100 TB key counts are
  millions — hash partitioning on (window, key) spreads them. Nothing here
  collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.functions.classify import alert_json_expr, classify_expr
from hw_kafka_flink_health_spark.functions.parsing import parse_events_df

DEFAULT_WATERMARK = "5 seconds"  # reference: src/flink_job.py:76 (5 s bound)
DEFAULT_WINDOW = "1 minute"  # reference: README Part 2 (1-min tumbling)


def windowed_vitals(
    events: DataFrame,
    *,
    window_duration: str = DEFAULT_WINDOW,
    slide_duration: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """W2+W3/W4+A1: per-key event-time windowed avg/min/max.

    `slide_duration` switches tumbling -> sliding (README offers both).
    `watermark` applies only to streaming inputs (harmless on batch? no —
    withWatermark is streaming-only, so it is applied only when the input
    is a streaming DataFrame).
    """
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark("event_ts", watermark)
    win = (
        F.window(F.col("event_ts"), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col("event_ts"), window_duration)
    )
    return (
        df.groupBy(win.alias("window"), F.col("patient_id"))
        .agg(
            F.avg("heart_rate_bpm").alias("avg_hr"),
            F.min("heart_rate_bpm").alias("min_hr"),
            F.max("heart_rate_bpm").alias("max_hr"),
        )
        .select(
            F.col("patient_id"),
            F.unix_millis(F.col("window.start").cast("timestamp")).alias("window_start"),
            F.unix_millis(F.col("window.end").cast("timestamp")).alias("window_end"),
            "avg_hr",
            "min_hr",
            "max_hr",
        )
    )


def heart_rate_alerts(events: DataFrame, **window_kwargs) -> DataFrame:
    """Full alert record: windowed vitals + classify (C1)."""
    return windowed_vitals(events, **window_kwargs).withColumn(
        "alert_type", classify_expr("avg_hr")
    )


def build_streaming_job(
    raw_stream: DataFrame,
    *,
    watermark: str = DEFAULT_WATERMARK,
    window_duration: str = DEFAULT_WINDOW,
    slide_duration: str | None = None,
    as_json: bool = True,
) -> DataFrame:
    """The whole flink_job.py dataflow on a raw-JSON streaming DataFrame.

    raw strings -> parse/validate -> watermark -> window agg -> classify
    [-> to_json].  Attach a sink with `sinks.kafka.write_kafka_stream` or
    any writeStream; nothing executes until `.start()` (same laziness as
    the reference's `env.execute()`, src/flink_job.py:145).
    """
    alerts = heart_rate_alerts(
        parse_events_df(raw_stream),
        watermark=watermark,
        window_duration=window_duration,
        slide_duration=slide_duration,
    )
    if as_json:
        return alerts.select(alert_json_expr())
    return alerts


def windowed_vitals_rollup(events: DataFrame, *, watermark: str | None = None) -> DataFrame:
    """CHAINED stateful aggregation: 1-minute windows rolled up to
    5-minute windows inside ONE streaming query (Spark's multiple-stateful-operator
    support: the second `window()` re-windows the first aggregation's
    window struct; both operators share the watermark, each keeps its own
    state store).

    The fine aggregate carries (sum, count, min, max) partials so the
    coarse grain is ALGEBRAICALLY exact — avg is re-derived from summed
    partials, never an avg-of-avgs. Same DataFrame code is the batch twin:
    the streaming test pins stream == batch equivalence.

    Scale: the fine agg's state is (key x fine-window); the rollup's state
    is (key x coarse-window) — both watermark-evicted. This is the shape
    that replaces a second job re-reading the fine sink at 100 TB.
    """
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark("event_ts", watermark)
    fine = df.groupBy(
        F.window(F.col("event_ts"), DEFAULT_WINDOW).alias("window"), F.col("patient_id")
    ).agg(
        F.sum("heart_rate_bpm").alias("sum_hr"),
        F.count(F.lit(1)).alias("n_events"),
        F.min("heart_rate_bpm").alias("min_hr"),
        F.max("heart_rate_bpm").alias("max_hr"),
    )
    coarse = fine.groupBy(
        F.window(F.col("window"), "5 minutes").alias("rollup"), F.col("patient_id")
    ).agg(
        (F.sum("sum_hr") / F.sum("n_events")).alias("avg_hr"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.min("min_hr").alias("min_hr"),
        F.max("max_hr").alias("max_hr"),
        F.count(F.lit(1)).cast("bigint").alias("n_fine_windows"),
    )
    return coarse.select(
        F.col("patient_id"),
        F.unix_millis(F.col("rollup.start").cast("timestamp")).alias("rollup_start"),
        F.unix_millis(F.col("rollup.end").cast("timestamp")).alias("rollup_end"),
        "avg_hr",
        "n_events",
        "min_hr",
        "max_hr",
        "n_fine_windows",
    )
