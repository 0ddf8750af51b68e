"""JSON parse + validate — the reference's `parse_event` contract (P1-P4).

Reference contract (``src/flink_job.py:19-32``, ``README`` Part 2,
``tests/test_flink_logic.py:6-23``): raw JSON string ->
``{patient_id: str, heart_rate_bpm: int, event_time: int epoch-millis}``,
or ``None`` on ANY error (non-JSON, missing field, bad timestamp).

Engine path: pure Catalyst expressions — ``from_json`` (PERMISSIVE: null
struct on malformed input) + ``to_timestamp`` + ``unix_millis``, then a
null-conjunction filter. That reproduces the None contract with zero
Python in the hot path; at 100 TB the difference between this and a
row-at-a-time Python UDF is the whole job.

A pure-Python twin (`parse_event`) is kept ONLY for unit-test parity with
the reference's pytest contract; it is not used by any engine operator.
"""

from __future__ import annotations

import json
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.schemas import HEART_RATE_EVENT_SCHEMA, HELLO_MESSAGE_SCHEMA


def parse_event(value: str) -> dict | None:
    """Pure-Python twin of the reference's parse_event (src/flink_job.py:19-32).

    Used by unit tests to pin the golden contract; the engine itself uses
    `parse_events_df` (vectorized).
    """
    try:
        obj = json.loads(value)
        patient_id = obj["patient_id"]
        timestamp = obj["timestamp"]
        heart_rate_bpm = obj["heart_rate_bpm"]
        if patient_id is None or timestamp is None or heart_rate_bpm is None:
            return None
        dt = datetime.fromisoformat(str(timestamp).replace("Z", "+00:00"))
        return {
            "patient_id": str(patient_id),
            "heart_rate_bpm": int(heart_rate_bpm),
            "event_time": int(dt.timestamp() * 1000),
        }
    except (ValueError, KeyError, TypeError):
        return None


def parsed_event_cols(raw: Column) -> list[Column]:
    """Catalyst expression set implementing parse_event on a raw-JSON column.

    Produces `patient_id`, `heart_rate_bpm`, `event_time` (epoch millis,
    long) and `event_ts` (TimestampType — the streaming watermark column).
    Malformed JSON / missing fields / unparseable timestamps all yield
    nulls, which `valid_filter` drops — the None contract.

    ISO8601 nuance: the producer emits `+00:00` offsets
    (src/kafka_producer.py:25) while the README shows `Z`; timestamp
    parsing with session TZ UTC accepts both. `try_to_timestamp` (not
    `to_timestamp`) is load-bearing: under Spark 4's default ANSI mode a
    malformed timestamp string would THROW and kill the job — try_ yields
    null, which the validity filter drops, i.e. the reference's
    None-on-bad-timestamp contract (found by Hypothesis fuzzing).
    """
    parsed = F.from_json(raw, HEART_RATE_EVENT_SCHEMA)
    ts = F.try_to_timestamp(parsed["timestamp"])
    return [
        parsed["patient_id"].alias("patient_id"),
        parsed["heart_rate_bpm"].alias("heart_rate_bpm"),
        F.unix_millis(ts).alias("event_time"),
        ts.alias("event_ts"),
    ]


def valid_filter() -> Column:
    """P4: drop records where any required field failed to parse."""
    return (
        F.col("patient_id").isNotNull()
        & F.col("heart_rate_bpm").isNotNull()
        & F.col("event_time").isNotNull()
    )


def parse_events_df(raw_df: DataFrame) -> DataFrame:
    """P1+P3+P4 fused: raw JSON strings -> validated typed events.

    Works identically on batch and streaming DataFrames (unified API).
    """
    return raw_df.select(*parsed_event_cols(F.col("raw"))).filter(valid_filter())


def annotate_df(raw_df: DataFrame, processed_by: str = "spark-engine") -> DataFrame:
    """P2: the hello-world map (src/hello_flink_job.py:41-52).

    Parse JSON, add `processed_by`, re-serialize; on decode error fall back
    to wrapping the raw string — `coalesce` reproduces the reference's
    try/except fallback declaratively.
    """
    parsed = F.from_json(F.col("raw"), HELLO_MESSAGE_SCHEMA)
    annotated = F.to_json(
        F.struct(
            parsed["id"].alias("id"),
            parsed["message"].alias("message"),
            parsed["timestamp"].alias("timestamp"),
            F.lit(processed_by).alias("processed_by"),
        )
    )
    fallback = F.to_json(
        F.struct(F.col("raw").alias("raw"), F.lit(processed_by).alias("processed_by"))
    )
    value = F.when(
        parsed["id"].isNotNull() | parsed["message"].isNotNull(), annotated
    ).otherwise(fallback)
    # non-raw columns pass through (lets callers keep a row identity)
    return raw_df.withColumn("value", value).drop("raw")
