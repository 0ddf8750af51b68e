"""Synthetic heart-rate event generation (reference G1/G2, S-free analog).

The reference's producer (``src/kafka_producer.py:10-51``) emits ~10
events/s over 5 patients with bpm = baseline(65..80) + noise(-10..15).
Here the same distribution is expression columns over Spark's ``rate``
source (streaming) or ``spark.range`` (batch) — hermetic, no broker.

Determinism note: xxhash64-based pseudo-randomness, keyed on the row id,
so batch runs are reproducible (unlike random(), which is per-task)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

PATIENTS = [f"p{i:03d}" for i in range(1, 6)]  # reference: src/kafka_producer.py:37


def _hash_mod(seed_col, salt: int, mod: int):
    return F.pmod(F.xxhash64(seed_col, F.lit(salt)), F.lit(mod))


def _event_cols(id_col, ts_col):
    patient = F.element_at(
        F.array(*[F.lit(p) for p in PATIENTS]),
        (_hash_mod(id_col, 1, len(PATIENTS)) + 1).cast("int"),
    )
    baseline = _hash_mod(id_col, 2, 16) + 65  # randint(65, 80)
    noise = _hash_mod(id_col, 3, 26) - 10  # randint(-10, 15)
    return producer_cols(patient, ts_col, baseline + noise)


def producer_cols(patient, ts_col, bpm) -> list[Column]:
    """The producer's event fields (reference src/kafka_producer.py:23-27):
    `patient_id`, an ISO-8601 `timestamp` with a `+00:00` offset, and an
    integer `heart_rate_bpm`."""
    iso_ts = F.concat(
        F.date_format(ts_col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), F.lit("+00:00")
    )
    return [
        patient.alias("patient_id"),
        iso_ts.alias("timestamp"),
        bpm.cast("int").alias("heart_rate_bpm"),
    ]


def events_producer_json() -> Column:
    """An `events` table row as the producer's wire JSON: patient
    `p<user_id:03d>`, `ts` as the timestamp, `floor(value)` as the bpm."""
    patient = F.format_string("p%03d", F.col("user_id"))
    return F.to_json(F.struct(*producer_cols(patient, F.col("ts"), F.floor("value"))))


def synthetic_heart_rate_stream(
    spark: SparkSession, rows_per_second: int = 10
) -> DataFrame:
    """Streaming generator: rate source at the reference's ~10 ev/s."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return rate.select(*_event_cols(F.col("value"), F.col("timestamp")))


def synthetic_heart_rate_raw_stream(spark: SparkSession, rows_per_second: int = 10) -> DataFrame:
    """Same, serialized to the wire format (JSON strings, column `raw`)."""
    ev = synthetic_heart_rate_stream(spark, rows_per_second)
    return ev.select(F.to_json(F.struct("patient_id", "timestamp", "heart_rate_bpm")).alias("raw"))


def synthetic_heart_rate_batch(spark: SparkSession, n: int = 1000) -> DataFrame:
    """Batch twin: n events spaced 100 ms apart (the producer's cadence)."""
    base = spark.range(n)
    ts = F.timestamp_millis(
        F.unix_millis(F.lit("2025-11-19 07:00:00").cast("timestamp")) + F.col("id") * 100
    )
    return base.select(*_event_cols(F.col("id"), ts))


def hello_payload_expr(id_col, ts_col):
    """hello_kafka_producer.py message shape (reference
    src/hello_kafka_producer.py:16-21): {"id": i, "message": "hello flink",
    "timestamp": iso8601} as a JSON string column."""
    return F.to_json(
        F.struct(
            id_col.alias("id"),
            F.lit("hello flink").alias("message"),
            F.date_format(ts_col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx").alias("timestamp"),
        )
    ).alias("raw")


def hello_raw_stream(spark: SparkSession, rows_per_second: int = 5) -> DataFrame:
    """Streaming hello-message producer body (rate-source cadence)."""
    rows = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    return rows.select(hello_payload_expr(F.col("value"), F.col("timestamp")))
