"""Queries covering the reference's own operator surface (SURVEY §2.A).

The driver's `events` table stands in for the heart-rate stream
(FIXTURES.md §5: user_id<->patient_id, ts<->timestamp, value<->bpm); every
query here is the batch twin of the corresponding streaming operator —
identical Catalyst plan family, deterministic, oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.functions.parsing import annotate_df, parse_events_df
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table
from hw_kafka_flink_health_spark.sources.rate import events_producer_json
from hw_kafka_flink_health_spark.streaming.health_pipeline import heart_rate_alerts


@register(
    "hr_alerts_tumbling",
    oracle="""
    SELECT user_id AS patient_id,
           epoch_ms(date_trunc('minute', CAST(ts AS TIMESTAMP))) AS window_start,
           epoch_ms(date_trunc('minute', CAST(ts AS TIMESTAMP)) + INTERVAL 1 MINUTE) AS window_end,
           round(avg(value), 4) AS avg_hr,
           min(value) AS min_hr,
           max(value) AS max_hr,
           CASE WHEN avg(value) > 100 THEN 'tachycardia'
                WHEN avg(value) < 50 THEN 'bradycardia'
                ELSE 'normal' END AS alert_type
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def hr_alerts_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's whole streaming pipeline as a batch twin.

    parse -> key by patient -> 1-min tumbling event-time window ->
    avg/min/max -> classify (reference src/flink_job.py:62-145).
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("patient_id"),
        F.col("ts").alias("event_ts"),
        F.col("value").alias("heart_rate_bpm"),
    )
    alerts = heart_rate_alerts(ev)
    return alerts.select(
        "patient_id",
        "window_start",
        "window_end",
        F.round("avg_hr", 4).alias("avg_hr"),
        "min_hr",
        "max_hr",
        "alert_type",
    )


@register(
    "hr_alerts_sliding",
    oracle="""
    SELECT user_id,
           (CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 20) AS BIGINT) * 20 - g.i * 20) * 1000 AS window_start,
           count(*) AS n_events,
           round(avg(value), 4) AS avg_value
    FROM events, (SELECT unnest(range(3)) AS i) g
    GROUP BY 1, 2
    """,
)
def hr_alerts_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: sliding event-time windows (1 minute sliding by 20 s).

    Every event belongs to exactly 3 windows; the oracle reconstructs the
    window set arithmetically (epoch-aligned grid, like Spark's window()).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "1 minute", "20 seconds").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.avg("value"), 4).alias("avg_value"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


@register(
    "hr_alerts_sliding_10s",
    oracle="""
    SELECT user_id,
           (CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 10) AS BIGINT) * 10 - g.i * 10) * 1000 AS window_start,
           count(*) AS n_events,
           round(avg(value), 4) AS avg_value
    FROM events, (SELECT unnest(range(6)) AS i) g
    GROUP BY 1, 2
    """,
)
def hr_alerts_sliding_10s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (literal parity): 1-minute windows sliding by 10 seconds — the
    exact example slide the reference README suggests
    (/root/reference/README.md:511 "e.g. slide of 10 seconds"); the 20 s
    variant (`hr_alerts_sliding`) stays as the coarser sibling. Every
    event belongs to exactly 6 windows; the oracle rebuilds the
    epoch-aligned window grid arithmetically, like Spark's window()."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "1 minute", "10 seconds").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


@register(
    "hr_parse_contract",
    oracle="""
    SELECT 'p' || lpad(CAST(user_id AS VARCHAR), 3, '0') AS patient_id,
           CAST(floor(value) AS INTEGER) AS heart_rate_bpm,
           epoch_ms(CAST(ts AS TIMESTAMP)) AS event_time
    FROM events
    WHERE event_id % 20 <> 0
      -- None-contract: a NULL field never serializes into the synthetic
      -- JSON, so the parser drops the record (missing-key -> invalid)
      AND value IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL
    """,
)
def hr_parse_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P3+P4: raw JSON -> parse -> validate -> drop invalid.

    Synthesizes the reference's wire format (`sources.rate`'s producer
    JSON, ISO8601 with +00:00 offset) from the events table,
    injects malformed records (every 20th), and runs the engine's
    vectorized parse_event. The oracle keeps only the valid rows — the
    None-contract check.
    """
    ev = load_table(spark, sf_dir, "events")
    raw = F.when((F.col("event_id") % 20) == 0, F.lit("not-json")).otherwise(
        events_producer_json()
    )
    # the to_json synthesis + from_json parse both run in the scan stage
    # (pure narrow plan): spread the under-partitioned events scan BEFORE
    # the synthesis expression (guide §2.5, r12) — rebalancing the
    # synthesized strings instead left to_json single-task below the
    # exchange (measured slower). Values are row-local, so the result is
    # partition-invariant and the reference goldens are untouched.
    from hw_kafka_flink_health_spark.sources.files import rebalance_if_narrow

    spread = rebalance_if_narrow(ev.select("event_id", "user_id", "ts", "value"))
    return parse_events_df(spread.select(raw.alias("raw"))).select(
        "patient_id", "heart_rate_bpm", "event_time"
    )


@register(
    "hello_annotate",
    oracle="""
    SELECT event_id,
           CASE WHEN event_id % 10 = 7
                THEN '{"raw":"oops not json","processed_by":"hello_spark_job"}'
                ELSE '{"id":' || (event_id % 10)
                     || ',"message":"hello flink","timestamp":"2025-11-19T07:15:23+00:00","processed_by":"hello_spark_job"}'
           END AS value
    FROM events
    """,
)
def hello_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: the hello-world map — parse, annotate processed_by, re-serialize,
    raw-wrap fallback on decode error (reference src/hello_flink_job.py:41-52)."""
    ev = load_table(spark, sf_dir, "events")
    raw = F.when((F.col("event_id") % 10) == 7, F.lit("oops not json")).otherwise(
        F.to_json(
            F.struct(
                (F.col("event_id") % 10).alias("id"),
                F.lit("hello flink").alias("message"),
                F.lit("2025-11-19T07:15:23+00:00").alias("timestamp"),
            )
        )
    )
    return annotate_df(
        ev.select("event_id", raw.alias("raw")), processed_by="hello_spark_job"
    )


@register(
    "batch_alert_counts",
    oracle="""
    WITH alerts AS (
        SELECT user_id AS patient_id,
               date_trunc('minute', CAST(ts AS TIMESTAMP)) AS w,
               CASE WHEN avg(value) > 100 THEN 'tachycardia'
                    WHEN avg(value) < 50 THEN 'bradycardia'
                    ELSE 'normal' END AS alert_type
        FROM events GROUP BY 1, 2
    )
    SELECT patient_id, alert_type, count(*) AS n_alerts
    FROM alerts GROUP BY 1, 2
    """,
)
def batch_alert_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/S6: the reference's Spark batch analysis — group alerts by
    (patient, alert_type) and count (src/spark_batch_analysis.py:22-26)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("patient_id"),
        F.col("ts").alias("event_ts"),
        F.col("value").alias("heart_rate_bpm"),
    )
    alerts = heart_rate_alerts(ev)
    return alerts.groupBy("patient_id", "alert_type").agg(
        F.count(F.lit(1)).alias("n_alerts")
    )


@register(
    "session_windows",
    oracle="""
    WITH o AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                         OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ), s AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess
        FROM o
    )
    SELECT user_id,
           epoch_ms(min(ts)) AS session_start,
           epoch_ms(max(ts) + INTERVAL 30 MINUTE) AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sess
    """,
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (gap 30 min) per user — the streaming operator's
    batch twin via native session_window(); oracle is the classic
    gaps-and-islands formulation. Spark merges events while
    next_ts < prev_ts + gap (window end exclusive), hence >= gap in the
    oracle starts a new session."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("session_start"),
            F.unix_millis(F.col("w.end").cast("timestamp")).alias("session_end"),
            "n_events",
        )
    )


@register(
    "dedup_events_exact",
    oracle="""
    SELECT user_id, event_type,
           epoch_ms(min(CAST(ts AS TIMESTAMP))) AS first_ms,
           count(*) AS n_dups
    FROM events GROUP BY 1, 2
    """,
)
def dedup_events_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming dropDuplicatesWithinWatermark: exact dedup
    by (user_id, event_type), keeping the earliest occurrence."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.unix_millis(F.min("ts").cast("timestamp")).alias("first_ms"),
        F.count(F.lit(1)).alias("n_dups"),
    )


@register(
    "hr_new_peaks",
    oracle="""
    WITH t AS (
        SELECT user_id,
               epoch_ms(CAST(ts AS TIMESTAMP)) AS event_time,
               CAST(floor(value) AS INTEGER) AS heart_rate_bpm,
               event_id,
               max(CAST(floor(value) AS INTEGER)) OVER (
                   PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM events
    )
    SELECT user_id AS patient_id, event_time, heart_rate_bpm
    FROM t WHERE prev_max IS NULL OR heart_rate_bpm > prev_max
    """,
)
def hr_new_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the custom stateful streaming operator (running-max
    'new peak' monitor, operators/stateful.py) — pure window expression."""
    from hw_kafka_flink_health_spark.operators.stateful import new_peaks_batch

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("patient_id"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("event_time"),
        F.floor("value").cast("int").alias("heart_rate_bpm"),
        "event_id",
    )
    return new_peaks_batch(ev, tiebreak_cols=["event_id"])


@register(
    "udaf_grouped_zscore",
    oracle="""
    SELECT event_id, event_type, value,
           round((value - avg(value) OVER (PARTITION BY event_type))
                 / stddev_samp(value) OVER (PARTITION BY event_type), 4) AS zscore
    FROM events
    """,
)
def udaf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF escape hatch: per-group z-score via applyInPandas grouped-map
    (Arrow-batched). The oracle states the same math as window SQL —
    proving the pandas path agrees with the declarative one."""
    from hw_kafka_flink_health_spark.operators.stateful import grouped_zscore

    ev = load_table(spark, sf_dir, "events")
    out = grouped_zscore(ev)
    return out.select(
        "event_id", "event_type", "value", F.round("zscore", 4).alias("zscore")
    )


@register(
    "parse_props_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    """,
)
def parse_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction on the props column (get_json_object) with a
    predicate on the extracted value."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_id", k.alias("k")).filter(F.col("k") >= 50)


@register(
    "hr_rollup_chained",
    oracle="""
    WITH fine AS (
      SELECT user_id AS patient_id,
             date_trunc('minute', CAST(ts AS TIMESTAMP)) AS w,
             sum(value) AS sum_hr,
             count(*) AS n_events,
             min(value) AS min_hr,
             max(value) AS max_hr
      FROM events GROUP BY 1, 2
    )
    SELECT patient_id,
           epoch_ms(to_timestamp(CAST(floor(epoch(w) / 300) AS BIGINT) * 300)) AS rollup_start,
           epoch_ms(to_timestamp(CAST(floor(epoch(w) / 300) AS BIGINT) * 300 + 300)) AS rollup_end,
           round(sum(sum_hr) / sum(n_events), 4) AS avg_hr,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           min(min_hr) AS min_hr,
           max(max_hr) AS max_hr,
           CAST(count(*) AS BIGINT) AS n_fine_windows
    FROM fine GROUP BY 1, 2, 3
    """,
)
def hr_rollup_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the CHAINED stateful rollup (1-min windows re-windowed
    to 5-min inside one query): algebraic partials make the coarse avg
    exact; the oracle rebuilds both grains arithmetically. The streaming
    variant of this exact code path is pinned by
    tests/test_streaming.py::test_chained_windowed_aggregations_single_query."""
    from hw_kafka_flink_health_spark.streaming.health_pipeline import (
        windowed_vitals_rollup,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("patient_id"),
        F.col("ts").alias("event_ts"),
        F.col("value").alias("heart_rate_bpm"),
    )
    out = windowed_vitals_rollup(ev)
    return out.select(
        "patient_id",
        "rollup_start",
        "rollup_end",
        F.round("avg_hr", 4).alias("avg_hr"),
        "n_events",
        "min_hr",
        "max_hr",
        "n_fine_windows",
    )
