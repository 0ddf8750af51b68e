"""Streaming-path tests: the SAME pipeline code as the batch twins, run as
actual Structured Streaming queries (file sources, memory sinks) — pinning
watermark/late-data semantics per SURVEY §5.2.3. No Kafka broker needed:
the unified DataFrame API means only the source/sink edges differ.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.cache import conf_override
from hw_kafka_flink_health_spark.functions.parsing import parse_events_df
from hw_kafka_flink_health_spark.streaming.health_pipeline import (
    build_streaming_job,
    heart_rate_alerts,
)

#: the checkout these tests belong to; CLI subprocesses run its code
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_events_json(path: str, events: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps({"raw": json.dumps(e)}) + "\n")


def _ev(pid: str, ts: str, bpm: int) -> dict:
    return {"patient_id": pid, "timestamp": ts, "heart_rate_bpm": bpm}


def _run_stream(spark, src_dir: str, name: str, *, max_files: int | None = None):
    """File-source stream -> alert pipeline -> memory sink, run to completion."""
    reader = (
        spark.readStream.schema("raw string")
        .option("maxFilesPerTrigger", max_files or 1000)
        .json(src_dir)
    )
    alerts = build_streaming_job(reader, as_json=False)
    q = (
        alerts.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_matches_batch_twin(spark, tmp_path):
    """Append-mode streaming emits exactly the windows the watermark closed,
    with values identical to the batch twin."""
    events = [
        _ev("p001", "2025-11-19T07:00:05+00:00", 110),
        _ev("p001", "2025-11-19T07:00:30+00:00", 120),
        _ev("p002", "2025-11-19T07:00:40+00:00", 45),
        _ev("p001", "2025-11-19T07:01:10+00:00", 80),
        # sentinel far ahead: advances watermark past every window above
        _ev("p099", "2025-11-19T07:10:00+00:00", 75),
    ]
    src = tmp_path / "stream1"
    _write_events_json(str(src / "batch0.json"), events)
    out = _run_stream(spark, str(src), "alerts_stream_1").collect()

    raw_batch = spark.createDataFrame(
        [(json.dumps(e),) for e in events], ["raw"]
    )
    batch = heart_rate_alerts(parse_events_df(raw_batch)).collect()

    srows = {(r.patient_id, r.window_start): r for r in out}
    brows = {(r.patient_id, r.window_start): r for r in batch}
    # every emitted streaming window matches the batch twin exactly
    assert len(srows) > 0
    for k, r in srows.items():
        b = brows[k]
        assert (r.avg_hr, r.min_hr, r.max_hr, r.alert_type) == (
            b.avg_hr,
            b.min_hr,
            b.max_hr,
            b.alert_type,
        )
    # the three real windows closed (sentinel's own window stays open)
    assert {("p001"), ("p002")} <= {k[0] for k in srows}
    assert ("p001", 1763535600000) in srows and ("p001", 1763535660000) in srows
    # classify semantics on the stream: avg(110,120)=115 -> tachycardia
    assert srows[("p001", 1763535600000)].alert_type == "tachycardia"
    assert srows[("p002", 1763535600000)].alert_type == "bradycardia"


def test_streaming_drops_late_data(spark, tmp_path):
    """An event arriving after its window was emitted+evicted is dropped —
    the reference's bounded-out-of-orderness semantics (W1).

    NOTE Spark's watermark guarantee is one-directional: within-delay data
    is always aggregated; too-late data is dropped once the watermark has
    been applied (one micro-batch of lag — an event racing the very batch
    that advances the watermark may still merge). So the late arrival here
    comes two batches after the advance, which IS guaranteed to drop."""
    src = tmp_path / "stream2"
    _write_events_json(
        str(src / "b0.json"), [_ev("p001", "2025-11-19T07:00:10+00:00", 80)]
    )
    # advances watermark to 07:04:55 -> evicts/emits the 07:00 window
    _write_events_json(
        str(src / "b1.json"), [_ev("p001", "2025-11-19T07:05:00+00:00", 80)]
    )
    # spacer batch: watermark application lag
    _write_events_json(
        str(src / "b2.json"), [_ev("p001", "2025-11-19T07:06:00+00:00", 80)]
    )
    # too-late event for the already-evicted 07:00 window
    _write_events_json(
        str(src / "b3.json"), [_ev("p001", "2025-11-19T07:00:20+00:00", 200)]
    )
    # FileStreamSource orders by modification time — pin it
    base = os.stat(src / "b0.json").st_mtime
    for i, f in enumerate(["b0.json", "b1.json", "b2.json", "b3.json"]):
        os.utime(src / f, (base + i * 60, base + i * 60))
    out = _run_stream(spark, str(src), "alerts_stream_2", max_files=1).collect()
    w0 = [r for r in out if r.window_start == 1763535600000]
    # exactly one emission for the window, and the late bpm=200 never
    # contributed nor re-emitted
    assert len(w0) == 1
    assert w0[0].avg_hr == 80.0 and w0[0].max_hr == 80


def test_streaming_invalid_records_dropped(spark, tmp_path):
    """P1/P4 on the stream: malformed JSON and missing fields -> dropped."""
    src = tmp_path / "stream3"
    os.makedirs(src, exist_ok=True)
    with open(src / "batch0.json", "w") as f:
        f.write(json.dumps({"raw": "not-json"}) + "\n")
        f.write(json.dumps({"raw": json.dumps({"patient_id": "p001"})}) + "\n")
        f.write(
            json.dumps({"raw": json.dumps(_ev("p001", "2025-11-19T07:00:10+00:00", 80))})
            + "\n"
        )
        f.write(
            json.dumps({"raw": json.dumps(_ev("p001", "2025-11-19T07:09:10+00:00", 80))})
            + "\n"
        )
    out = _run_stream(spark, str(src), "alerts_stream_3").collect()
    assert len(out) == 1  # only the one valid closed window
    assert out[0].min_hr == 80


def test_streaming_hello_annotate(spark, tmp_path):
    """P2 as a stream: parse-annotate-serialize with raw fallback."""
    src = tmp_path / "hello"
    os.makedirs(src, exist_ok=True)
    with open(src / "b0.json", "w") as f:
        f.write(json.dumps({"raw": '{"id": 1, "message": "hello flink", "timestamp": "t"}'}) + "\n")
        f.write(json.dumps({"raw": "garbage"}) + "\n")
    from hw_kafka_flink_health_spark.functions.parsing import annotate_df

    reader = spark.readStream.schema("raw string").json(str(src))
    q = (
        annotate_df(reader, processed_by="hello_spark_job")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("hello_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    vals = sorted(r.value for r in spark.sql("SELECT * FROM hello_stream").collect())
    assert vals == sorted(
        [
            '{"id":1,"message":"hello flink","timestamp":"t","processed_by":"hello_spark_job"}',
            '{"raw":"garbage","processed_by":"hello_spark_job"}',
        ]
    )


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming dedup operator: duplicate (patient, ts) records collapse."""
    src = tmp_path / "dedup"
    dup = _ev("p001", "2025-11-19T07:00:10+00:00", 80)
    _write_events_json(
        str(src / "b0.json"),
        [dup, dup, dup, _ev("p002", "2025-11-19T07:00:20+00:00", 90)],
    )
    reader = spark.readStream.schema("raw string").json(str(src))
    deduped = (
        parse_events_df(reader)
        .withWatermark("event_ts", "5 seconds")
        .dropDuplicatesWithinWatermark(["patient_id", "event_time"])
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM dedup_stream").collect()
    assert len(rows) == 2


def test_streaming_file_sink_alerts(spark, tmp_path):
    """S5: alerts to JSON files (the reference's optional batch handoff),
    then S6: Spark batch reads them back and runs the A2 group-count."""
    src = tmp_path / "sink_src"
    _write_events_json(
        str(src / "b0.json"),
        [
            _ev("p001", "2025-11-19T07:00:05+00:00", 110),
            _ev("p001", "2025-11-19T07:00:30+00:00", 120),
            _ev("p099", "2025-11-19T07:10:00+00:00", 75),
        ],
    )
    out_dir = str(tmp_path / "alerts_out")
    ckpt = str(tmp_path / "ckpt")
    reader = spark.readStream.schema("raw string").json(str(src))
    alerts = build_streaming_job(reader, as_json=False)
    q = (
        alerts.writeStream.outputMode("append")
        .format("json")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    back = spark.read.json(out_dir)
    counts = (
        back.groupBy("patient_id", "alert_type").count().collect()
    )
    assert {(r.patient_id, r.alert_type, r["count"]) for r in counts} == {
        ("p001", "tachycardia", 1)
    }


def test_rate_source_stream_schema(spark):
    """G1/G2 analog: the rate-source generator is a real streaming DF with
    the producer's wire schema."""
    from hw_kafka_flink_health_spark.sources.rate import (
        synthetic_heart_rate_raw_stream,
        synthetic_heart_rate_stream,
    )

    s = synthetic_heart_rate_stream(spark)
    assert s.isStreaming
    assert [f.name for f in s.schema.fields] == ["patient_id", "timestamp", "heart_rate_bpm"]
    raw = synthetic_heart_rate_raw_stream(spark)
    assert raw.isStreaming and raw.columns == ["raw"]


def test_session_window_streaming(spark, tmp_path):
    """Session windows on a real stream (gap 1 minute)."""
    src = tmp_path / "sess"
    _write_events_json(
        str(src / "b0.json"),
        [
            _ev("p001", "2025-11-19T07:00:00+00:00", 80),
            _ev("p001", "2025-11-19T07:00:30+00:00", 82),  # same session
            _ev("p001", "2025-11-19T07:05:00+00:00", 84),  # new session
            _ev("p099", "2025-11-19T08:00:00+00:00", 75),  # watermark sentinel
        ],
    )
    reader = spark.readStream.schema("raw string").json(str(src))
    parsed = parse_events_df(reader).withWatermark("event_ts", "5 seconds")
    sess = (
        parsed.groupBy(F.session_window("event_ts", "1 minute"), "patient_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "patient_id",
            F.unix_millis(F.col("session_window.start").cast("timestamp")).alias("start_ms"),
            "n",
        )
    )
    q = sess.writeStream.outputMode("append").format("memory").queryName("sess_stream").start()
    q.processAllAvailable()
    q.stop()
    rows = {
        (r.patient_id, r.start_ms): r.n
        for r in spark.sql("SELECT * FROM sess_stream").collect()
    }
    assert rows[("p001", 1763535600000)] == 2
    assert rows[("p001", 1763535900000)] == 1


def test_stream_static_join_enrichment(spark, tmp_path):
    """Stream-static join: enrich streaming events with a static dim."""
    from hw_kafka_flink_health_spark.streaming.sinks import enrich_with_static

    src = tmp_path / "enrich"
    _write_events_json(
        str(src / "b0.json"),
        [
            _ev("p001", "2025-11-19T07:00:05+00:00", 80),
            _ev("p003", "2025-11-19T07:00:06+00:00", 90),
        ],
    )
    dim = spark.createDataFrame(
        [("p001", "ward-A"), ("p002", "ward-B")], ["patient_id", "ward"]
    )
    reader = spark.readStream.schema("raw string").json(str(src))
    enriched = enrich_with_static(parse_events_df(reader), dim, on="patient_id")
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {r.patient_id: r.ward for r in spark.sql("SELECT * FROM enriched_stream").collect()}
    assert rows == {"p001": "ward-A", "p003": None}


def test_foreach_batch_parquet_sink(spark, tmp_path):
    """foreachBatch exactly-once file sink: batch-addressed directories."""
    from hw_kafka_flink_health_spark.streaming.sinks import foreach_batch_parquet

    src = tmp_path / "fb_src"
    _write_events_json(
        str(src / "b0.json"), [_ev("p001", "2025-11-19T07:00:05+00:00", 80)]
    )
    _write_events_json(
        str(src / "b1.json"), [_ev("p002", "2025-11-19T07:00:06+00:00", 90)]
    )
    t0 = os.stat(src / "b0.json").st_mtime
    os.utime(src / "b0.json", (t0 - 60, t0 - 60))
    reader = (
        spark.readStream.schema("raw string").option("maxFilesPerTrigger", "1").json(str(src))
    )
    out_dir = str(tmp_path / "fb_out")
    q = foreach_batch_parquet(
        parse_events_df(reader), out_dir, str(tmp_path / "fb_ckpt")
    )
    q.processAllAvailable()
    q.stop()
    back = spark.read.parquet(out_dir)
    assert back.count() == 2
    assert set(back.select("batch_id").distinct().toPandas()["batch_id"]) == {0, 1}


def test_stream_stream_interval_join(spark, tmp_path):
    """Two file-source streams joined on key + time interval; state is
    watermark-bounded, result matches the batch twin on the same rows."""
    from hw_kafka_flink_health_spark.streaming.joins import interval_join

    import json as _json

    def write_rows(d, rows):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.json"), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    clicks = [
        {"user_id": 1, "click_id": 10, "click_ts": "2024-01-01T10:00:00"},
        {"user_id": 1, "click_id": 11, "click_ts": "2024-01-01T11:00:00"},
        {"user_id": 2, "click_id": 12, "click_ts": "2024-01-01T10:00:00"},
    ]
    purchases = [
        {"user_id": 1, "purchase_id": 20, "purchase_ts": "2024-01-01T10:10:00"},  # <- click 10
        {"user_id": 1, "purchase_id": 21, "purchase_ts": "2024-01-01T12:00:00"},  # too late for both
        {"user_id": 2, "purchase_id": 22, "purchase_ts": "2024-01-01T10:25:00"},  # <- click 12
        {"user_id": 3, "purchase_id": 23, "purchase_ts": "2024-01-01T10:10:00"},  # no click
    ]
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    write_rows(cdir, clicks)
    write_rows(pdir, purchases)

    cs = spark.readStream.schema(
        "user_id long, click_id long, click_ts timestamp"
    ).json(cdir)
    ps = spark.readStream.schema(
        "user_id long, purchase_id long, purchase_ts timestamp"
    ).json(pdir)
    joined = interval_join(
        ps, cs, on="user_id", left_ts="purchase_ts", right_ts="click_ts",
        upper="30 minutes", watermark="1 minute",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssjoin")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM ssjoin").collect()
    }
    assert got == {(20, 10), (22, 12)}


def test_stream_stream_interval_join_left_outer(spark, tmp_path):
    """Left-outer interval join: matches emit immediately; unmatched
    purchases emit null-padded ONLY after the watermark clears their
    match window (proving state is evicted, not held forever). A far-
    future row on both streams advances the watermark to force the
    flush; that row's own window is still open, so it stays pending."""
    from hw_kafka_flink_health_spark.streaming.joins import interval_join

    import json as _json

    def write_rows(d, fname, rows):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, fname), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    clicks = [
        {"user_id": 1, "click_id": 10, "click_ts": "2024-01-01T10:00:00"},
        {"user_id": 2, "click_id": 12, "click_ts": "2024-01-01T10:00:00"},
    ]
    purchases = [
        {"user_id": 1, "purchase_id": 20, "purchase_ts": "2024-01-01T10:10:00"},  # <- click 10
        {"user_id": 1, "purchase_id": 21, "purchase_ts": "2024-01-01T12:00:00"},  # too late: organic
        {"user_id": 3, "purchase_id": 23, "purchase_ts": "2024-01-01T10:10:00"},  # no click: organic
    ]
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    write_rows(cdir, "part-0.json", clicks)
    write_rows(pdir, "part-0.json", purchases)

    cs = spark.readStream.schema(
        "user_id long, click_id long, click_ts timestamp"
    ).json(cdir)
    ps = spark.readStream.schema(
        "user_id long, purchase_id long, purchase_ts timestamp"
    ).json(pdir)
    joined = interval_join(
        ps, cs, on="user_id", left_ts="purchase_ts", right_ts="click_ts",
        upper="30 minutes", watermark="1 minute", how="left_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssjoin_outer")
        .start()
    )
    q.processAllAvailable()
    # watermark pushers: far-future activity on both streams
    write_rows(cdir, "part-1.json",
               [{"user_id": 9, "click_id": 90, "click_ts": "2024-01-01T15:00:00"}])
    write_rows(pdir, "part-1.json",
               [{"user_id": 9, "purchase_id": 99, "purchase_ts": "2024-01-01T15:00:00"}])
    q.processAllAvailable()
    q.stop()
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM ssjoin_outer").collect()
    }
    assert (20, 10) in got
    assert (21, None) in got and (23, None) in got  # organic, null-padded
    assert (99, 90) in got or all(p != 99 for p, _ in got)  # pusher row: matched or pending


def test_streaming_checkpoint_restart_resumes(spark, tmp_path):
    """Kill-and-restart recovery: a restarted query with the same
    checkpoint processes ONLY data that arrived while it was down —
    nothing is reprocessed (no duplicates) and nothing is lost. This is
    the reference's `enable_checkpointing(5000)` guarantee
    (src/flink_job.py:58) in Structured Streaming form."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def write_batch(fname, ids):
        with open(os.path.join(src, fname), "w") as f:
            for i in ids:
                f.write(json.dumps({"event_id": i, "v": i * 10}) + "\n")

    def start_query():
        reader = spark.readStream.schema("event_id long, v long").json(src)

        def sink(df, batch_id):
            df.write.mode("append").parquet(out)

        return (
            reader.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    write_batch("a.json", range(10))
    q = start_query()
    q.processAllAvailable()
    q.stop()  # crash/redeploy

    write_batch("b.json", range(10, 15))  # arrives while the query is down
    q = start_query()
    q.processAllAvailable()
    q.stop()

    back = spark.read.parquet(out).toPandas()
    assert len(back) == 15  # 10 + 5, each exactly once
    assert sorted(back["event_id"]) == list(range(15))


def test_update_mode_emits_open_windows_append_holds_them(spark, tmp_path):
    """Output-mode semantics, pinned: with no watermark-closing sentinel,
    UPDATE mode emits the still-open window's running aggregate after the
    first batch, while APPEND emits nothing until the watermark passes
    the window end. This is the Flink-incremental-fire vs
    Spark-append-on-close distinction SURVEY §7 flags as watch-list #4."""
    events = [
        _ev("p001", "2025-11-19T07:00:05+00:00", 110),
        _ev("p001", "2025-11-19T07:00:30+00:00", 120),
    ]
    src = tmp_path / "upd_src"
    _write_events_json(str(src / "batch0.json"), events)

    def run(mode, name):
        reader = spark.readStream.schema("raw string").json(str(src))
        alerts = build_streaming_job(reader, as_json=False)
        q = (
            alerts.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.sql(f"SELECT * FROM {name}").collect()

    upd = run("update", "upd_mode")
    app = run("append", "app_mode")
    assert len(app) == 0  # window not closed by any watermark advance
    assert len(upd) == 1  # running aggregate emitted immediately
    assert upd[0].patient_id == "p001" and upd[0].avg_hr == 115.0
    assert upd[0].alert_type == "tachycardia"


def test_trigger_available_now_backfills_and_stops(spark, tmp_path):
    """Backfill mode: trigger(availableNow) processes everything present
    in rate-limited micro-batches (maxFilesPerTrigger splits the work)
    and then terminates on its own — the catch-up-then-stop pattern for
    replaying a 100 TB landing zone through the streaming pipeline
    without running a 24/7 query."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(4):
        with open(os.path.join(src, f"f{i}.json"), "w") as f:
            for j in range(5):
                f.write(json.dumps({"event_id": i * 5 + j, "v": j}) + "\n")

    batches: list[int] = []

    def sink(df, batch_id):
        batches.append(df.count())

    q = (
        spark.readStream.schema("event_id long, v long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)  # availableNow => terminates by itself
    assert not q.isActive
    assert sum(batches) == 20
    assert len(batches) == 4  # one micro-batch per file, rate-limited


@pytest.mark.slow  # ~20 s subprocess demo CLI; full-suite tier
def test_health_job_demo_cli_runs():
    """The flagship job's broker-less demo mode (`python -m ... --demo`)
    must run end-to-end from the CLI — the `flink run` parity check a
    reference user would try first."""
    import subprocess
    import sys

    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "hw_kafka_flink_health_spark.streaming.health_job",
            "--demo",
            "8",
            "--rate",
            "50",
            "--window",
            "5 seconds",
            "--watermark",
            "2 seconds",
        ],
        capture_output=True,
        text=True,
        timeout=120,
        cwd=REPO_ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "Batch: " in proc.stdout  # console sink ticked


@pytest.mark.slow  # ~7 s scale stress; full-suite tier
def test_state_store_scales_to_100k_keys_and_evicts(spark, tmp_path):
    """State-scale probe: the alert pipeline at realistic key cardinality.

    The reference's demo has 5 patients; a ward network has ~10^5. The
    windowed agg's state is keyed on (key, window), so state rows must
    track active keys x open windows EXACTLY — and drop to ~zero once
    the watermark closes those windows. Both facts are read from the
    engine's own stateOperators metrics, not inferred from output.

    100 000 keys x 2 open 1-min windows = 200 000 state rows; a later
    sentinel advances the watermark past both windows, which must emit
    all 200 000 results (append mode) and evict all 200 000 state rows.
    At cluster scale the same state is hash-partitioned across executors
    (numShufflePartitions state stores); nothing here is per-key driver
    work, so key cardinality only moves memory, not plan shape.
    """
    n_keys = 100_000
    src = tmp_path / "stress_src"
    os.makedirs(src)

    # JVM-side synthesis: 2 events per key in consecutive 1-min windows
    def gen(ts: str):
        return spark.range(n_keys).select(
            F.to_json(
                F.struct(
                    F.concat(F.lit("p"), F.col("id")).alias("patient_id"),
                    F.lit(ts).alias("timestamp"),
                    (F.lit(60) + F.col("id") % 40).alias("heart_rate_bpm"),
                )
            ).alias("raw")
        )
    early = gen("2025-11-19T07:00:30+00:00").union(gen("2025-11-19T07:01:30+00:00"))
    early.coalesce(1).write.json(str(src / "a_early"))
    # sentinel two batches later: watermark -> 07:09:55, both windows close
    spark.createDataFrame(
        [(json.dumps(_ev("sentinel", "2025-11-19T07:10:00+00:00", 75)),)], ["raw"]
    ).write.json(str(src / "b_late"))

    reader = (
        spark.readStream.schema("raw string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .json(str(src))
    )
    alerts = build_streaming_job(reader, as_json=False)
    q = (
        alerts.writeStream.outputMode("append")
        .format("memory")
        .queryName("stress_alerts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        progresses = [p for p in q.recentProgress if p["stateOperators"]]
    finally:
        q.stop()

    totals = [p["stateOperators"][0]["numRowsTotal"] for p in progresses]
    removed = sum(p["stateOperators"][0]["numRowsRemoved"] for p in progresses)
    # state peaked at exactly keys x open windows
    assert max(totals) == 2 * n_keys, totals
    # watermark eviction reclaimed every closed window's state row
    assert removed >= 2 * n_keys, (removed, totals)
    # end state holds only the sentinel's still-open window
    assert totals[-1] <= 2, totals
    # append mode emitted every closed window exactly once
    emitted = spark.sql(
        "SELECT count(*) AS c, count(DISTINCT patient_id, window_start) AS d "
        "FROM stress_alerts"
    ).first()
    assert emitted.c == emitted.d == 2 * n_keys


def test_foreach_batch_upsert_latest_state(spark, tmp_path):
    """Keyed-upsert sink: micro-batches MERGE into a parquet table;
    after three batches the table holds exactly the latest row per key."""
    from hw_kafka_flink_health_spark.streaming.sinks import foreach_batch_upsert

    src = tmp_path / "up_src"
    batches = [
        [_ev("p001", "2025-11-19T07:00:01+00:00", 70), _ev("p002", "2025-11-19T07:00:01+00:00", 80)],
        [_ev("p001", "2025-11-19T07:00:02+00:00", 120)],
        [_ev("p003", "2025-11-19T07:00:03+00:00", 45)],
    ]
    for i, rows in enumerate(batches):
        path = src / f"b{i}.json"
        _write_events_json(str(path), rows)
        t = os.stat(path).st_mtime
        os.utime(path, (t - 60 + i, t - 60 + i))  # stable file order
    reader = (
        spark.readStream.schema("raw string").option("maxFilesPerTrigger", "1").json(str(src))
    )
    parsed = parse_events_df(reader).select("patient_id", "heart_rate_bpm")
    table = str(tmp_path / "latest_vitals")
    q = foreach_batch_upsert(
        parsed, table, str(tmp_path / "up_ckpt"), key_cols=["patient_id"]
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["patient_id"]: r["heart_rate_bpm"]
        for r in spark.read.parquet(table).collect()
    }
    assert got == {"p001": 120, "p002": 80, "p003": 45}


def test_foreach_batch_upsert_recovers_mid_swap_crash(spark, tmp_path):
    """Crash-recovery for the upsert sink's swap (ADVICE r1): a committed
    staging dir left behind with the table dir missing (crash between
    rename-aside and rename-in) must be promoted on the next batch, not
    discarded — accumulated history survives the crash."""
    from hw_kafka_flink_health_spark.streaming.sinks import foreach_batch_upsert

    table = str(tmp_path / "latest_vitals")
    # Simulate the crash state: history lives only in .staging, committed
    # (the sink's own _COMMITTED sentinel — written after the staging write
    # returns), no table. Spark's optional _SUCCESS marker is deliberately
    # REMOVED to model a deployment with
    # mapreduce.fileoutputcommitter.marksuccessfuljobs=false (ADVICE r2):
    # recovery must promote on the sink's sentinel alone.
    spark.createDataFrame(
        [("p001", 70), ("p002", 80)], "patient_id string, heart_rate_bpm int"
    ).coalesce(1).write.parquet(table + ".staging")
    success = os.path.join(table + ".staging", "_SUCCESS")
    if os.path.isfile(success):
        os.remove(success)
    with open(os.path.join(table + ".staging", "_COMMITTED"), "w"):
        pass
    assert not os.path.isdir(table)

    src = tmp_path / "up_crash_src"
    _write_events_json(
        str(src / "b0.json"), [_ev("p003", "2025-11-19T07:00:03+00:00", 45)]
    )
    reader = spark.readStream.schema("raw string").json(str(src))
    parsed = parse_events_df(reader).select("patient_id", "heart_rate_bpm")
    q = foreach_batch_upsert(
        parsed, table, str(tmp_path / "up_crash_ckpt"), key_cols=["patient_id"]
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["patient_id"]: r["heart_rate_bpm"]
        for r in spark.read.parquet(table).collect()
    }
    # p001/p002 recovered from the orphaned staging, p003 merged on top
    assert got == {"p001": 70, "p002": 80, "p003": 45}
    assert not os.path.isdir(table + ".staging")
    assert not os.path.isdir(table + ".retired")


def test_python_datasource_feeds_reference_alert_pipeline(spark, tmp_path):
    """End-to-end composition: the Spark 4 Python DataSource streams the
    producer wire format into the SAME parse -> watermark -> window ->
    classify pipeline the Kafka source feeds — proving the source is a
    drop-in for S1 without a broker. The generator's bpm range (55..95)
    brackets both alert thresholds, so windows must classify into more
    than one category."""
    from hw_kafka_flink_health_spark.functions.parsing import parse_events_df
    from hw_kafka_flink_health_spark.sources.pydatasource import HeartRateDataSource
    from hw_kafka_flink_health_spark.streaming.health_pipeline import windowed_vitals
    from hw_kafka_flink_health_spark.functions.classify import classify_expr

    spark.dataSource.register(HeartRateDataSource)
    raw = (
        spark.readStream.format("heart_rate_synthetic")
        .option("rowsPerBatch", "400")
        .load()
    )
    vitals = windowed_vitals(
        parse_events_df(raw), watermark="5 seconds"
    ).withColumn("status", classify_expr("avg_hr"))
    q = (
        vitals.writeStream.outputMode("update")
        .format("memory")
        .queryName("pyds_alerts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT patient_id, window_start, status FROM pyds_alerts"
            ).collect()
            if len(rows) >= 5:
                break
            time.sleep(0.5)
        assert len(rows) >= 5, len(rows)
        assert {r.patient_id for r in rows} <= {f"p{i:03d}" for i in range(1, 6)}
        assert {r.status for r in rows} <= {"normal", "tachycardia", "bradycardia"}
    finally:
        q.stop()


def test_stream_stream_interval_join_full_outer(spark, tmp_path):
    """FULL-outer interval join: unmatched rows from BOTH sides emit
    null-padded after the watermark clears their windows — the abandoned
    click (user 2) must surface with a non-null coalesced key, alongside
    the organic purchases."""
    from hw_kafka_flink_health_spark.streaming.joins import interval_join

    import json as _json

    def write_rows(d, fname, rows):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, fname), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    clicks = [
        {"user_id": 1, "click_id": 10, "click_ts": "2024-01-01T10:00:00"},
        {"user_id": 2, "click_id": 12, "click_ts": "2024-01-01T10:00:00"},  # abandoned
    ]
    purchases = [
        {"user_id": 1, "purchase_id": 20, "purchase_ts": "2024-01-01T10:10:00"},
        {"user_id": 3, "purchase_id": 23, "purchase_ts": "2024-01-01T10:10:00"},  # organic
    ]
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    write_rows(cdir, "part-0.json", clicks)
    write_rows(pdir, "part-0.json", purchases)

    cs = spark.readStream.schema(
        "user_id long, click_id long, click_ts timestamp"
    ).json(cdir)
    ps = spark.readStream.schema(
        "user_id long, purchase_id long, purchase_ts timestamp"
    ).json(pdir)
    joined = interval_join(
        ps, cs, on="user_id", left_ts="purchase_ts", right_ts="click_ts",
        upper="30 minutes", watermark="1 minute", how="full_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssjoin_full")
        .start()
    )
    q.processAllAvailable()
    write_rows(cdir, "part-1.json",
               [{"user_id": 9, "click_id": 90, "click_ts": "2024-01-01T15:00:00"}])
    write_rows(pdir, "part-1.json",
               [{"user_id": 9, "purchase_id": 99, "purchase_ts": "2024-01-01T15:00:00"}])
    q.processAllAvailable()
    q.stop()
    got = {
        (r["user_id"], r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM ssjoin_full").collect()
    }
    assert (1, 20, 10) in got
    assert (3, 23, None) in got  # organic purchase, left side preserved
    assert (2, None, 12) in got  # abandoned click, RIGHT side preserved w/ key


def test_state_data_source_reads_exact_open_window_state(spark, tmp_path):
    """Spark 4 state data source: the checkpoint's state store, read as a
    batch table, must contain EXACTLY the windows the watermark has not
    yet closed, with per-window (sum, count, min, max) equal to the batch
    recomputation over the same input — offline state inspection with
    value-level fidelity, no running query involved."""
    import json as _json

    from hw_kafka_flink_health_spark.functions.parsing import parse_events_df
    from hw_kafka_flink_health_spark.streaming.health_pipeline import windowed_vitals
    from hw_kafka_flink_health_spark.streaming.state_tools import (
        read_state,
        read_state_metadata,
        state_summary,
    )

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    events = [
        {"patient_id": f"p{i % 3}",
         "timestamp": f"2025-11-19T07:0{i % 6}:00+00:00",
         "heart_rate_bpm": 70 + i}
        for i in range(20)
    ]
    with open(f"{src}/b0.json", "w") as f:
        for e in events:
            f.write(_json.dumps({"raw": _json.dumps(e)}) + "\n")

    reader = spark.readStream.schema("raw string").json(src)
    vit = windowed_vitals(parse_events_df(reader), watermark="5 seconds")
    q = (
        vit.writeStream.outputMode("update")
        .format("memory")
        .queryName("state_src_q")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # expected OPEN state: windows whose end > watermark (max ts - 5s),
    # recomputed in batch from the same events
    batch = spark.createDataFrame(
        [(_json.dumps(e),) for e in events], ["raw"]
    )
    parsed = parse_events_df(batch)
    wm_ms = parsed.agg(F.max("event_time")).collect()[0][0] - 5000
    expect = {
        (r["patient_id"], r["window_start"]): (
            r["avg_hr"], r["min_hr"], r["max_hr"]
        )
        for r in windowed_vitals(parsed).collect()
        if r["window_end"] > wm_ms
    }

    st = read_state(spark, ckpt).select(
        F.col("key.patient_id").alias("patient_id"),
        F.unix_millis(F.col("key.window.start")).alias("window_start"),
        (F.col("value.sum") / F.col("value.count")).alias("avg_hr"),
        F.col("value.min").alias("min_hr"),
        F.col("value.max").alias("max_hr"),
    )
    got = {
        (r["patient_id"], r["window_start"]): (r["avg_hr"], r["min_hr"], r["max_hr"])
        for r in st.collect()
    }
    assert got == expect, (got, expect)

    md = read_state_metadata(spark, ckpt)
    assert md.filter(F.col("operatorName") == "stateStoreSave").count() == 1
    summ = state_summary(spark, ckpt).collect()
    assert summ[0]["state_rows"] == len(expect)


def test_chained_windowed_aggregations_single_query(spark, tmp_path):
    """Multiple stateful operators in ONE streaming query: 1-min window agg
    re-windowed to a 5-min rollup. Append mode emits the rollup only after
    the watermark passes its end, and values equal the batch twin exactly
    (algebraic partials — no avg-of-avgs)."""
    from hw_kafka_flink_health_spark.streaming.health_pipeline import (
        windowed_vitals_rollup,
    )

    events = [
        _ev("p001", "2025-11-19T07:00:05+00:00", 110),
        _ev("p001", "2025-11-19T07:01:10+00:00", 80),   # 2nd fine window
        _ev("p001", "2025-11-19T07:03:20+00:00", 95),   # 4th fine window
        _ev("p002", "2025-11-19T07:02:00+00:00", 45),
        # sentinel far ahead: watermark passes the 07:00-07:05 rollup
        _ev("p099", "2025-11-19T07:20:00+00:00", 75),
    ]
    src = tmp_path / "chain_src"
    _write_events_json(str(src / "batch0.json"), events)
    reader = (
        spark.readStream.schema("raw string").option("maxFilesPerTrigger", 1000).json(str(src))
    )
    out = windowed_vitals_rollup(parse_events_df(reader), watermark="5 seconds")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("chained_rollup")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    srows = {
        (r.patient_id, r.rollup_start): r
        for r in spark.sql("SELECT * FROM chained_rollup").collect()
    }

    raw_batch = spark.createDataFrame([(json.dumps(e),) for e in events], ["raw"])
    brows = {
        (r.patient_id, r.rollup_start): r
        for r in windowed_vitals_rollup(parse_events_df(raw_batch)).collect()
    }

    # closed rollups for p001 and p002 emitted; sentinel's own stays open
    p1 = srows[("p001", 1763535600000)]
    assert (p1.avg_hr, p1.n_events, p1.min_hr, p1.max_hr, p1.n_fine_windows) == (
        (110 + 80 + 95) / 3, 3, 80, 110, 3,
    )
    assert srows[("p002", 1763535600000)].n_events == 1
    assert ("p099", 1763536800000) not in srows
    for k, r in srows.items():  # stream == batch twin on every emitted row
        b = brows[k]
        assert (r.avg_hr, r.n_events, r.min_hr, r.max_hr, r.n_fine_windows) == (
            b.avg_hr, b.n_events, b.min_hr, b.max_hr, b.n_fine_windows,
        )


def test_stream_stream_join_then_windowed_agg_chained(spark, tmp_path):
    """The OTHER multi-stateful-operator chain: stream-stream interval
    join followed by an event-time windowed aggregation in the SAME
    query (join state + agg state, one watermark lineage). Append mode
    emits a window's attribution counts only after the watermark closes
    it; values match the batch twin of the identical code path."""
    from hw_kafka_flink_health_spark.streaming.joins import interval_join

    import json as _json

    def write_rows(d, rows):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.json"), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    clicks = [
        {"user_id": 1, "click_id": 10, "click_ts": "2024-01-01T10:00:00"},
        {"user_id": 2, "click_id": 12, "click_ts": "2024-01-01T10:00:30"},
        {"user_id": 1, "click_id": 13, "click_ts": "2024-01-01T10:01:10"},
        # watermark sentinel far ahead on both streams
        {"user_id": 9, "click_id": 99, "click_ts": "2024-01-01T13:00:00"},
    ]
    purchases = [
        {"user_id": 1, "purchase_id": 20, "purchase_ts": "2024-01-01T10:00:20"},  # <- click 10
        {"user_id": 2, "purchase_id": 22, "purchase_ts": "2024-01-01T10:00:50"},  # <- click 12
        {"user_id": 1, "purchase_id": 24, "purchase_ts": "2024-01-01T10:01:40"},  # <- clicks 10,13
        {"user_id": 9, "purchase_id": 98, "purchase_ts": "2024-01-01T13:00:01"},
    ]
    cdir, pdir = str(tmp_path / "c2"), str(tmp_path / "p2")
    write_rows(cdir, clicks)
    write_rows(pdir, purchases)

    def build(cs, ps):
        joined = interval_join(
            ps, cs, on="user_id", left_ts="purchase_ts", right_ts="click_ts",
            upper="2 minutes", watermark="1 second",
        )
        return (
            joined.groupBy(F.window("purchase_ts", "1 minute").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_attributed"))
            .select(
                F.unix_millis(F.col("w.start").cast("timestamp")).alias("ws"),
                "n_attributed",
            )
        )

    cs = spark.readStream.schema("user_id long, click_id long, click_ts timestamp").json(cdir)
    ps = spark.readStream.schema(
        "user_id long, purchase_id long, purchase_ts timestamp"
    ).json(pdir)
    q = (
        build(cs, ps)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("join_then_agg")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    srows = {
        (r["ws"], r["n_attributed"])
        for r in spark.sql("SELECT * FROM join_then_agg").collect()
    }

    cb = spark.read.schema("user_id long, click_id long, click_ts timestamp").json(cdir)
    pb = spark.read.schema("user_id long, purchase_id long, purchase_ts timestamp").json(pdir)
    brows = {(r["ws"], r["n_attributed"]) for r in build(cb, pb).collect()}
    # every closed window the stream emitted matches the batch twin;
    # the two pre-sentinel windows must have closed
    assert srows <= brows
    closed = {ws for ws, _ in srows}
    assert 1704103200000 in closed  # 10:00 window: purchases 20, 22
    assert 1704103260000 in closed  # 10:01 window: purchase 24 (2 clicks)
    assert dict(srows)[1704103200000] == 2
    assert dict(srows)[1704103260000] == 2


def test_session_window_streaming_dynamic_gap(spark, tmp_path):
    """Dynamic per-event gap on a real stream: high readings (>=100 bpm)
    hold the session open 2 minutes, normal ones 30 seconds — so the
    same 60 s silence splits a normal session but not an alerting one."""
    src = tmp_path / "sessdyn"
    _write_events_json(
        str(src / "b0.json"),
        [
            _ev("p001", "2025-11-19T07:00:00+00:00", 110),  # high: 2-min reach
            _ev("p001", "2025-11-19T07:01:00+00:00", 80),   # 60s later: SAME session
            _ev("p002", "2025-11-19T07:00:00+00:00", 80),   # normal: 30s reach
            _ev("p002", "2025-11-19T07:01:00+00:00", 82),   # 60s later: NEW session
            _ev("p099", "2025-11-19T08:00:00+00:00", 75),   # watermark sentinel
        ],
    )
    reader = spark.readStream.schema("raw string").json(str(src))
    parsed = parse_events_df(reader).withWatermark("event_ts", "5 seconds")
    gap = F.when(F.col("heart_rate_bpm") >= 100, "2 minutes").otherwise("30 seconds")
    sess = (
        parsed.groupBy(F.session_window("event_ts", gap), "patient_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "patient_id",
            F.unix_millis(F.col("session_window.start").cast("timestamp")).alias("start_ms"),
            "n",
        )
    )
    q = sess.writeStream.outputMode("append").format("memory").queryName("sessdyn_stream").start()
    q.processAllAvailable()
    q.stop()
    rows = {
        (r.patient_id, r.start_ms): r.n
        for r in spark.sql("SELECT * FROM sessdyn_stream").collect()
    }
    assert rows[("p001", 1763535600000)] == 2  # merged by the 2-min reach
    assert rows[("p002", 1763535600000)] == 1  # split: 30s reach expired
    assert rows[("p002", 1763535660000)] == 1


def test_streaming_corpus_ingest_incremental_dedup(spark, tmp_path):
    """End-to-end streaming corpus ingest: each micro-batch of documents
    is fingerprinted and checked against the accumulating fingerprint
    INDEX inside foreachBatch — re-delivered content lands as 'dup' and
    the survivors extend the index. Batch 1 re-delivers one of batch 0's
    docs (different doc_id, same text) and adds a fresh one; the corpus
    table must end with exactly the 3 distinct contents and the re-
    delivery flagged."""
    import json as _json

    from hw_kafka_flink_health_spark.operators.dedup import fingerprint_expr

    src = tmp_path / "docs_stream"
    os.makedirs(src)
    b0 = [
        {"doc_id": 1, "text": "alpha beta gamma"},
        {"doc_id": 2, "text": "delta epsilon zeta"},
    ]
    b1 = [
        {"doc_id": 3, "text": "alpha beta gamma"},   # re-delivery of doc 1's content
        {"doc_id": 4, "text": "eta theta iota"},
    ]
    with open(src / "b0.json", "w") as f:
        for d in b0:
            f.write(_json.dumps(d) + "\n")
    with open(src / "b1.json", "w") as f:
        for d in b1:
            f.write(_json.dumps(d) + "\n")
    t0 = os.stat(src / "b0.json").st_mtime
    os.utime(src / "b0.json", (t0 - 60, t0 - 60))

    index_dir = str(tmp_path / "fp_index")
    corpus_dir = str(tmp_path / "corpus")
    log = []

    def ingest(batch_df, batch_id):
        sess = batch_df.sparkSession
        fp = batch_df.withColumn("fp", fingerprint_expr("text"))
        fp = fp.dropDuplicates(["fp"])  # in-batch dedup first
        if os.path.isdir(index_dir):
            hist = sess.read.parquet(index_dir).withColumn("__hit", F.lit(1))
            tagged = fp.join(hist, "fp", "left")
        else:
            tagged = fp.withColumn("__hit", F.lit(None).cast("int"))
        new = tagged.filter(F.col("__hit").isNull()).select("doc_id", "text", "fp")
        dups = tagged.filter(F.col("__hit").isNotNull()).select("doc_id").collect()
        log.extend((batch_id, r["doc_id"]) for r in dups)
        new.select("doc_id", "text").write.mode("append").parquet(corpus_dir)
        new.select("fp").write.mode("append").parquet(index_dir)

    reader = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = reader.writeStream.foreachBatch(ingest).outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    corpus = spark.read.parquet(corpus_dir).collect()
    texts = sorted(r["text"] for r in corpus)
    assert texts == ["alpha beta gamma", "delta epsilon zeta", "eta theta iota"]
    assert {r["doc_id"] for r in corpus} == {1, 2, 4}
    assert [d for _, d in log] == [3]  # exactly the re-delivery was flagged


def test_complete_mode_reemits_full_aggregate_each_batch(spark, tmp_path):
    """Output-mode matrix completion: COMPLETE mode re-emits the ENTIRE
    aggregate after every micro-batch (no watermark needed), so the sink
    always holds the current totals — including keys whose counts grew
    across batches."""
    src = tmp_path / "complete_src"
    _write_events_json(str(src / "b0.json"), [
        _ev("p001", "2025-11-19T07:00:00+00:00", 80),
        _ev("p002", "2025-11-19T07:00:10+00:00", 90),
    ])
    _write_events_json(str(src / "b1.json"), [
        _ev("p001", "2025-11-19T07:02:00+00:00", 85),
    ])
    t0 = os.stat(src / "b0.json").st_mtime
    os.utime(src / "b0.json", (t0 - 60, t0 - 60))

    reader = (
        spark.readStream.schema("raw string").option("maxFilesPerTrigger", 1).json(str(src))
    )
    counts = parse_events_df(reader).groupBy("patient_id").count()
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("complete_counts")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {r["patient_id"]: r["count"] for r in spark.sql("SELECT * FROM complete_counts").collect()}
    assert rows == {"p001": 2, "p002": 1}


def test_streaming_restart_with_benign_code_change(spark, tmp_path):
    """Upgrade semantics: a stopped query may restart FROM THE SAME
    CHECKPOINT with changed stateless logic (here: a new filter and a
    changed projection) — offsets resume, already-processed files are
    not re-emitted, and only NEW data flows through the NEW code."""
    src = tmp_path / "upgrade_src"
    _write_events_json(str(src / "b0.json"), [
        _ev("p001", "2025-11-19T07:00:00+00:00", 80),
        _ev("p002", "2025-11-19T07:00:10+00:00", 120),
    ])
    ckpt = str(tmp_path / "upgrade_ckpt")
    out1 = str(tmp_path / "out_v1")

    def parsed_stream():
        reader = (
            spark.readStream.schema("raw string").option("maxFilesPerTrigger", 1).json(str(src))
        )
        return parse_events_df(reader).select("patient_id", "heart_rate_bpm")

    q1 = (
        parsed_stream()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("json")
        .option("path", out1)
        .start()
    )
    q1.processAllAvailable()
    q1.stop()
    v1 = spark.read.json(out1)
    assert v1.count() == 2

    # v2 code: keep only tachycardic readings, add a derived column
    _write_events_json(str(src / "b1.json"), [
        _ev("p003", "2025-11-19T07:01:00+00:00", 130),
        _ev("p004", "2025-11-19T07:01:10+00:00", 70),
    ])
    # the file sink's _spark_metadata log is keyed by the checkpoint's
    # batch ids, so the OUTPUT PATH must stay fixed across restarts; the
    # benign change is the new filter + projection
    v2_stream = (
        parsed_stream()
        .filter(F.col("heart_rate_bpm") > 100)
        .withColumn("flagged", F.lit(True))
    )
    q2 = (
        v2_stream.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("json")
        .option("path", out1)
        .start()
    )
    q2.processAllAvailable()
    q2.stop()
    rows = {(r["patient_id"], r["heart_rate_bpm"]): r for r in spark.read.json(out1).collect()}
    # batch 0's two rows stand as v1 wrote them (not re-emitted through
    # the new filter); of batch 1, only p003 (130) passes the v2 filter
    assert set(rows) == {("p001", 80), ("p002", 120), ("p003", 130)}
    assert rows[("p003", 130)]["flagged"] is True
    assert rows[("p001", 80)]["flagged"] is None  # v1-era row, no such field


def test_dynamic_rules_rebroadcast_per_microbatch(spark, tmp_path):
    """Broadcast-state parity: the SAME reading classifies differently
    after the rules file is updated between micro-batches — no restart."""
    import json as _json
    import os as _os

    from hw_kafka_flink_health_spark.streaming.sinks import (
        foreach_batch_dynamic_rules,
    )

    src = tmp_path / "src"
    src.mkdir()
    rules = tmp_path / "rules"
    rules.mkdir()
    with open(rules / "r.json", "w") as f:
        f.write(_json.dumps({"high": 100, "low": 50}) + "\n")
    with open(src / "b0.jsonl", "w") as f:
        f.write(_json.dumps({"patient_id": "p1", "heart_rate_bpm": 120}) + "\n")
    t0 = _os.stat(src / "b0.jsonl").st_mtime
    _os.utime(src / "b0.jsonl", (t0 - 60, t0 - 60))

    reader = (
        spark.readStream.schema("patient_id string, heart_rate_bpm int")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = foreach_batch_dynamic_rules(
        reader, str(rules), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    # operators raise the threshold OUT OF BAND; same bpm, new verdict
    with open(rules / "r.json", "w") as f:
        f.write(_json.dumps({"high": 150, "low": 50}) + "\n")
    with open(src / "b1.jsonl", "w") as f:
        f.write(_json.dumps({"patient_id": "p1", "heart_rate_bpm": 120}) + "\n")
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(str(tmp_path / "out")).collect()
    by_batch = {r.batch_id: (r.status, r.high) for r in out}
    assert by_batch[0] == ("tachycardia_alert", 100)
    assert by_batch[1] == ("normal", 150)


def test_side_outputs_route_main_and_quarantine(spark, tmp_path):
    """Side-output parity: one query, two sinks; quarantined rows carry
    the violated rule names; main+quarantine partition the batch."""
    import json as _json

    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.streaming.sinks import (
        foreach_batch_side_outputs,
    )

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"patient_id": "p1", "heart_rate_bpm": 80},   # ok
        {"patient_id": "", "heart_rate_bpm": 80},     # bad id
        {"patient_id": "p2", "heart_rate_bpm": 999},  # out of range
        {"patient_id": "", "heart_rate_bpm": -1},     # both
    ]
    with open(src / "b0.jsonl", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    reader = spark.readStream.schema("patient_id string, heart_rate_bpm int").json(
        str(src)
    )
    rules = {
        "nonempty_id": F.col("patient_id") != "",
        "bpm_in_range": F.col("heart_rate_bpm").between(20, 260),
    }
    q = foreach_batch_side_outputs(
        reader,
        rules,
        str(tmp_path / "main"),
        str(tmp_path / "quarantine"),
        str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    main = spark.read.parquet(str(tmp_path / "main")).collect()
    quar = spark.read.parquet(str(tmp_path / "quarantine")).collect()
    assert {r.patient_id for r in main} == {"p1"}
    assert len(main) + len(quar) == len(rows)
    viol = {(r.patient_id, r.heart_rate_bpm): r["__violations"] for r in quar}
    assert viol[("", 80)] == "nonempty_id"
    assert viol[("p2", 999)] == "bpm_in_range"
    assert set(viol[("", -1)].split(",")) == {"nonempty_id", "bpm_in_range"}


@pytest.mark.slow  # ~20 s subprocess demo CLI; full-suite tier
def test_cep_job_demo_cli_runs(tmp_path):
    """The CEP monitor's broker-less demo (`python -m ... cep_job --demo`)
    runs end-to-end from the CLI and the console sink ticks — the
    FlinkCEP-job parity check.

    Poll-until-first-batch with a deadline, not a fixed demo window
    (VERDICT r10 #6): under full-suite load the old 8-second demo
    sometimes ended before the first micro-batch printed. The demo
    window is generous (90 s) and the process is terminated as soon as
    "Batch: " appears."""
    import subprocess
    import sys
    import time as _t

    out_path = tmp_path / "cep_demo.out"
    with open(out_path, "w") as out:
        proc = subprocess.Popen(
            [
                sys.executable,
                "-m",
                "hw_kafka_flink_health_spark.streaming.cep_job",
                "--demo",
                "--demo-seconds",
                "90",
            ],
            stdout=out,
            stderr=subprocess.STDOUT,
            text=True,
            cwd=REPO_ROOT,
        )
        try:
            deadline = _t.monotonic() + 150
            ticked = False
            while _t.monotonic() < deadline:
                if "Batch: " in out_path.read_text(errors="replace"):
                    ticked = True
                    break
                if proc.poll() is not None:
                    break
                _t.sleep(1.0)
        finally:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    tail = out_path.read_text(errors="replace")[-2000:]
    assert ticked or "Batch: " in tail, tail


def test_streaming_under_rocksdb_state_store(spark, tmp_path):
    """Opt-in RocksDB state store (round-5 verdict item: the default
    in-memory HDFS-backed provider cannot hold 100x-scale window/CEP
    state): the same windowed-alert pipeline must produce identical
    results under the RocksDB provider, and the provider must ACTUALLY
    engage (rocksdb custom metrics present in the query progress — a
    silently ignored conf would pass a results-only check)."""
    events = [
        _ev("p001", "2025-11-19T07:00:05+00:00", 110),
        _ev("p001", "2025-11-19T07:00:30+00:00", 120),
        _ev("p002", "2025-11-19T07:00:40+00:00", 45),
        _ev("p099", "2025-11-19T07:10:00+00:00", 75),  # watermark sentinel
    ]
    src = tmp_path / "rocks_src"
    _write_events_json(str(src / "batch0.json"), events)

    from hw_kafka_flink_health_spark.session import ROCKSDB_STATE_CONF

    with conf_override(spark, **ROCKSDB_STATE_CONF):
        reader = (
            spark.readStream.schema("raw string")
            .option("maxFilesPerTrigger", 1000)
            .json(str(src))
        )
        alerts = build_streaming_job(reader, as_json=False)
        q = (
            alerts.writeStream.outputMode("append")
            .format("memory")
            .queryName("alerts_rocksdb")
            .start()
        )
        q.processAllAvailable()
        progress = q.lastProgress
        q.stop()

    out = {
        (r.patient_id, r.window_start): r
        for r in spark.sql("SELECT * FROM alerts_rocksdb").collect()
    }
    assert out[("p001", 1763535600000)].alert_type == "tachycardia"
    assert out[("p001", 1763535600000)].avg_hr == 115.0
    assert out[("p002", 1763535600000)].alert_type == "bradycardia"
    # proof the RocksDB provider ran this query's state store
    ops = progress["stateOperators"]
    assert ops and any(
        any(m.startswith("rocksdb") for m in op.get("customMetrics", {}))
        for op in ops
    ), f"no rocksdb metrics in progress: {ops}"

