"""The flagship streaming job, runnable — the `flink run -py src/flink_job.py`
analog (reference src/flink_job.py:62-145).

    python -m hw_kafka_flink_health_spark.streaming.health_job \
        --bootstrap localhost:9092 --input heart_rate_events \
        --output heart_rate_alerts --checkpoint /tmp/ckpt/health \
        [--window "1 minute"] [--slide "10 seconds"] [--watermark "5 seconds"] \
        [--alert-files output/alerts]

Pipeline: Kafka JSON -> parse/validate -> watermark -> per-patient
event-time windows -> avg/min/max -> classify -> JSON -> Kafka
(+ optional file sink for the batch-analysis handoff, S5).
Nothing runs until .start() — the env.execute() analog.
"""

from __future__ import annotations

import argparse


def main() -> None:
    p = argparse.ArgumentParser(description="Heart-rate alert streaming job")
    p.add_argument("--bootstrap", default="localhost:9092")
    p.add_argument("--input", default="heart_rate_events")
    p.add_argument("--output", default="heart_rate_alerts")
    p.add_argument("--checkpoint", default="/tmp/ckpt/health")
    p.add_argument("--window", default="1 minute")
    p.add_argument("--slide", default=None)
    p.add_argument("--watermark", default="5 seconds")
    p.add_argument("--alert-files", default=None, help="optional JSON file sink dir (S5)")
    p.add_argument(
        "--demo",
        type=int,
        default=None,
        metavar="SECONDS",
        help="broker-less demo: synthetic rate-source events in, alerts to "
        "console (+ --alert-files) for SECONDS, then clean stop",
    )
    p.add_argument("--rate", type=int, default=10, help="demo events/second")
    args = p.parse_args()

    from hw_kafka_flink_health_spark.session import get_spark
    from hw_kafka_flink_health_spark.sources.kafka import read_kafka_stream, write_kafka_stream
    from hw_kafka_flink_health_spark.streaming.health_pipeline import build_streaming_job

    spark = get_spark(app_name="HeartRateAlertsJob")
    if args.demo is not None:
        from hw_kafka_flink_health_spark.sources.rate import (
            synthetic_heart_rate_raw_stream,
        )

        raw = synthetic_heart_rate_raw_stream(spark, rows_per_second=args.rate)
    else:
        raw = read_kafka_stream(spark, topic=args.input, bootstrap=args.bootstrap)
    alerts = build_streaming_job(
        raw,
        watermark=args.watermark,
        window_duration=args.window,
        slide_duration=args.slide,
        as_json=False,
    )
    if args.demo is not None:
        sink = (
            alerts.writeStream.outputMode("append")
            .format("console")
            .option("truncate", "false")
            .start()
        )
    else:
        from hw_kafka_flink_health_spark.functions.classify import alert_json_expr

        sink = write_kafka_stream(
            alerts.select(alert_json_expr()),
            topic=args.output,
            bootstrap=args.bootstrap,
            checkpoint_dir=args.checkpoint,
        )
    queries = [sink]
    if args.alert_files:
        queries.append(
            alerts.writeStream.outputMode("append")
            .format("json")
            .option("path", args.alert_files)
            .option("checkpointLocation", args.checkpoint + "_files")
            .start()
        )
    # Wait on all sinks at once: a failure of any of them (the file sink
    # too, not only the first) is raised here. --demo returns after SECONDS.
    try:
        spark.streams.awaitAnyTermination(args.demo)
    finally:
        for q in queries:
            q.stop()
        spark.stop()


if __name__ == "__main__":
    main()
