"""Declared schemas for every record shape the engine handles.

The reference has a dynamic, validated-on-read data model (JSON strings on
Kafka; ``parse_event`` checks required fields at runtime —
``src/flink_job.py:19-32``). Spark-first, the same contract is a declared
``StructType`` applied with ``from_json`` in PERMISSIVE mode: malformed input
becomes a null struct / null fields, which the validation filter drops —
byte-for-byte the reference's ``None``-on-error semantics, but vectorized.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Raw heart-rate event as produced onto the `heart_rate_events` topic
# (reference: src/kafka_producer.py:23-27, README "Data format").
HEART_RATE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("patient_id", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("heart_rate_bpm", T.IntegerType(), True),
    ]
)

# Alert record written to `heart_rate_alerts` (reference:
# src/flink_job.py:113-122).
ALERT_SCHEMA = T.StructType(
    [
        T.StructField("patient_id", T.StringType(), True),
        T.StructField("window_start", T.LongType(), True),  # epoch millis
        T.StructField("window_end", T.LongType(), True),
        T.StructField("avg_hr", T.DoubleType(), True),
        T.StructField("min_hr", T.IntegerType(), True),
        T.StructField("max_hr", T.IntegerType(), True),
        T.StructField("alert_type", T.StringType(), True),
    ]
)

# Hello-world message (reference: src/hello_kafka_producer.py:16-20).
HELLO_MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("message", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),
    ]
)

# Multimodal asset row: opaque binary payload + typed metadata. The decode
# step is pluggable (see operators/multimodal.py); the engine-side contract
# is only this schema.
MULTIMODAL_ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime_type", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

# The driver's synthetic star schema (TESTDATA.md): table -> column names.
# Types come from parquet; this is the reference list used by the loader
# and by tests to assert coverage.
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
