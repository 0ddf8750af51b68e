"""`alerts_stream`: the reference's own job on the emulated Kafka transport.

Emulated Kafka -> parse -> 5 s watermark -> 1-minute window sliding by
10 s -> classify -> emulated Kafka sink, built only from the program's
public functions (`read_kafka_stream`, `build_streaming_job`,
`write_kafka_stream`, and `emulated_produce` for the backlogs and in the
generator process).

Before the program starts, two backlogs are preloaded: a throwaway one
for the warm-up (a drain, then a short live phase; part of set-up) and
the measured one. Timed window, two phases:

1. drain: the job starts on the measured backlog (a restart after
   downtime) and drains it. Throughput is backlog events over the wall
   time from `start()` to the end of the batch that emits the backlog's
   closed windows (Spark's own progress timestamps).
2. live, for `--seconds`: the same job stays up while the generator
   process writes events at a fixed rate well under the drain rate on a
   compressed event clock. One latency sample per window close: the time
   from the close (window_end + 5 s watermark bound, mapped to the wall
   time that event time was due) to the moment a poller first sees the
   last output file holding that window's alerts.

A run is invalid (every alert counted failed) if the watermark dropped a
row, the generator ran late, or the job fell behind: more than
`MAX_BACKLOG_S` of input was waiting when a live batch started.

After the window, every closed window's streamed alert, in both output
topics, must equal the batch twin `heart_rate_alerts` over that topic's
valid events.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

E0_MS = 1_700_000_000_000  # live event clock origin, aligned to the 10 s slide
WATERMARK_MS = 5_000
SLIDE = "10 seconds"
SPEED = 40.0  # event seconds per wall second in the live phase
PATIENTS = 2000
BACKLOG_HISTORY_S = 120  # event seconds of history in each backlog
MAX_LATE_MS = 2000  # a generator this late makes the run invalid
MAX_BACKLOG_S = 2.0  # this much input waiting at a live batch's start is invalid
DRAIN_TIMEOUT_S = 120.0
IDLE_TIMEOUT_S = 60.0


def _size(tiny: bool) -> dict:
    if tiny:
        return {"warm": 2_000, "warm_live_s": 2.0, "backlog": 3_000, "rate": 400.0, "patients": 200}
    return {"warm": 30_000, "warm_live_s": 8.0, "backlog": 300_000, "rate": 2_000.0,
            "patients": PATIENTS}


def _preload(boot: str, topic: str, seed: list[int], events: int, patients: int) -> np.ndarray:
    """Write a backlog of `events` messages covering the history before
    E0_MS into `topic`, in 8 files; return the valid events."""
    from hw_kafka_flink_health_spark.sources.kafka import emulated_produce

    rng = np.random.default_rng(seed)
    ev = np.sort(E0_MS - rng.integers(1, BACKLOG_HISTORY_S * 1000, events))
    msgs, valid = gen.heart_rate_records(rng, events, patients, ev)
    for chunk in np.array_split(np.arange(events), 8):
        emulated_produce(boot, topic, [msgs[i] for i in chunk])
    return gen.valid_array(valid)


def _start_job(spark, boot: str, topic: str, work: str):
    from hw_kafka_flink_health_spark.sources.kafka import read_kafka_stream, write_kafka_stream
    from hw_kafka_flink_health_spark.streaming.health_pipeline import build_streaming_job

    raw = read_kafka_stream(spark, topic=f"{topic}_events", bootstrap=boot)
    job = build_streaming_job(raw, slide_duration=SLIDE)
    return write_kafka_stream(
        job, topic=f"{topic}_alerts", bootstrap=boot,
        checkpoint_dir=os.path.join(work, f"ckpt_{topic}"), trigger_seconds=0,
    )


def _progress_start_s(p: dict) -> float:
    ts = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=dt.timezone.utc).timestamp()


def _progress_end_s(p: dict) -> float:
    return _progress_start_s(p) + p["durationMs"]["triggerExecution"] / 1000


def _await_drained(q, events: int) -> list[dict]:
    """Progress records once all `events` are read and a later batch
    (the one that evicts the backlog's closed windows) has finished."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while time.time() < deadline:
        prog, read = q.recentProgress, 0
        for i, p in enumerate(prog):
            read += p["numInputRows"]
            if read >= events and i + 1 < len(prog):
                return prog[: i + 2]
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        time.sleep(0.01)
    raise TimeoutError("stream did not drain its backlog")


def _await_idle(q, expected: int) -> list[dict]:
    """Wait until every generated event is read and no batch has run for
    a short while (so the final watermark's evictions are written)."""
    deadline = time.time() + IDLE_TIMEOUT_S
    while time.time() < deadline:
        prog = q.recentProgress
        if sum(p["numInputRows"] for p in prog) >= expected:
            last = prog[-1]
            if time.time() - _progress_end_s(last) > 0.5 and q.status["isTriggerActive"] is False:
                return q.recentProgress
        time.sleep(0.05)
    raise TimeoutError("stream did not go idle")


class _Poller(threading.Thread):
    """First-seen wall time of every output file of the alerts topic."""

    def __init__(self, path: str):
        super().__init__(daemon=True)
        self.path, self.seen, self.done = path, {}, threading.Event()
        self.skip = set(os.listdir(path))

    def run(self) -> None:
        while not self.done.is_set():
            now = time.time()
            with os.scandir(self.path) as it:
                for e in it:
                    n = e.name
                    if n.startswith("part-") and n not in self.seen and n not in self.skip:
                        self.seen[n] = now
            time.sleep(0.005)


ALERT_SCHEMA = (
    "patient_id string, window_start long, window_end long, avg_hr double,"
    " min_hr int, max_hr int, alert_type string"
)
ALERT_COLS = [c.split()[0] for c in ALERT_SCHEMA.split(",")]


def _check(spark, boot: str, topics: dict[str, tuple[np.ndarray, int]]) -> tuple:
    """Streamed alerts of every topic against the batch twin
    `heart_rate_alerts` over that topic's valid events, closed windows only
    (window_end <= the job's final watermark). Patient ids carry the topic
    as a prefix so one job checks every topic.

    Returns (closed-window alerts, mismatched alerts, the distinct
    (output file, window_end) pairs of the live topic).
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.sources.kafka import read_kafka_batch
    from hw_kafka_flink_health_spark.streaming.health_pipeline import heart_rate_alerts

    def prefixed(df, topic):
        return df.withColumn("patient_id", F.concat(F.lit(f"{topic}/"), "patient_id"))

    streamed = None
    for t in topics:
        a = read_kafka_batch(spark, f"{t}_alerts", boot).select(
            F.from_json("raw", ALERT_SCHEMA).alias("a"), F.input_file_name().alias("file"))
        a = prefixed(a.select("a.*", "file"), t).withColumn("topic", F.lit(t))
        streamed = a if streamed is None else streamed.unionByName(a)

    pdf = pd.concat([pd.DataFrame({
        "patient_id": [f"{t}/p{p:05d}" for p in valid[:, 0]],
        "heart_rate_bpm": valid[:, 1].astype("int32"),
        "event_time": valid[:, 2],
    }) for t, (valid, _) in topics.items()])
    ev = spark.createDataFrame(pdf).withColumn("event_ts", F.timestamp_millis("event_time"))
    wm = F.create_map(*[F.lit(x) for t, (_, w) in topics.items() for x in (t, w)])
    twin = (heart_rate_alerts(ev, slide_duration=SLIDE)
            .where(F.col("window_end") <= wm[F.split("patient_id", "/")[0]]))
    # one pass: +1 per streamed alert, -1 per twin alert; any key whose
    # sum is not 0 is missing, extra or duplicated
    d = F.col("d")
    diff = (streamed.select(*ALERT_COLS, F.lit(1).alias("d"))
            .unionByName(twin.select(*ALERT_COLS, F.lit(-1).alias("d")))
            .groupBy(ALERT_COLS).agg(F.sum("d").alias("d"), F.count_if(d < 0).alias("n"))
            .agg(F.sum(F.abs(d)).alias("wrong"), F.sum("n").alias("n_twin")).first())
    live = streamed.where(F.col("topic") == "live").select("file", "window_end").distinct().collect()
    return diff["n_twin"] or 0, diff["wrong"] or 0, [
        (os.path.basename(r["file"]), r["window_end"]) for r in live]


def _watermark_ms(prog: list[dict]) -> int:
    return max(int(dt.datetime.strptime(p["eventTime"]["watermark"], "%Y-%m-%dT%H:%M:%S.%fZ")
                   .replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
               for p in prog if "watermark" in p.get("eventTime", {}))


def _drain(spark, boot: str, topic: str, work: str, events: int) -> tuple:
    """Start the job on a preloaded topic; (query, progress, drain seconds)."""
    t0 = time.time()
    q = _start_job(spark, boot, topic, work)
    prog = _await_drained(q, events)
    return q, prog, _progress_end_s(prog[-1]) - t0


def _backlog(prog: list[dict], first_live: int, backlog: int, w0: float, gsum: dict) -> list[int]:
    """Events written but not yet read at the start of every live batch.

    The generator writes tick k's events at w0 + (k + 1) * tick; a batch
    reads what was written before it started."""
    out, read = [], 0
    for p in prog:
        if p["batchId"] >= first_live:
            ticks = min(gsum["ticks"], max(0, int((_progress_start_s(p) - w0) / gsum["tick_s"])))
            out.append(backlog + ticks * gsum["per_tick"] - read)
        read += p["numInputRows"]
    return out


def prepare(ctx) -> None:
    """Preload the warm-up and the measured backlogs before the program starts."""
    sz = _size(ctx.tiny)
    ctx.boot = f"emulated://{os.path.join(ctx.work, 'kafka')}"
    ctx.backlogs = {  # topic "warm" is the throwaway one
        "warm": _preload(ctx.boot, "warm_events", [ctx.seed, 0], sz["warm"], sz["patients"]),
        "live": _preload(ctx.boot, "live_events", [ctx.seed, 1], sz["backlog"], sz["patients"]),
    }


def _live(ctx, q, topic: str, seconds: float) -> tuple:
    """Run the generator process against `topic` for `seconds`, then wait
    until `q` has read everything and gone idle (so the final watermark's
    evictions are written).

    Returns (w0, generator summary, valid events, progress, idle wait)."""
    sz = _size(ctx.tiny)
    w0 = time.time() + 0.3  # leaves the generator time to start
    valid_path = os.path.join(ctx.work, f"{topic}_valid.npy")
    summary_path = os.path.join(ctx.work, f"{topic}_summary.json")
    proc = subprocess.Popen([
        sys.executable, os.path.join(HERE, "generator.py"),
        "--bootstrap", ctx.boot, "--topic", f"{topic}_events", "--seed", str(ctx.seed),
        "--rate", str(sz["rate"]), "--seconds", str(seconds), "--patients", str(sz["patients"]),
        "--w0", repr(w0), "--e0-ms", str(E0_MS), "--speed", str(SPEED),
        "--out", valid_path, "--summary", summary_path,
    ])
    if proc.wait() != 0:
        raise RuntimeError("live generator failed")
    with open(summary_path) as f:
        gsum = json.load(f)
    t = time.perf_counter()
    backlog = sz["warm" if topic == "warm" else "backlog"]
    prog = _await_idle(q, backlog + gsum["events"])
    return w0, gsum, np.load(valid_path), prog, time.perf_counter() - t


def run(ctx) -> dict:
    """Run the workload; return samples, counts and per-layer detail."""
    spark, work, sz, boot = ctx.spark, ctx.work, _size(ctx.tiny), ctx.boot
    valid = dict(ctx.backlogs)

    # set-up: warm the pipeline on a throwaway topic, a drain and then a
    # live phase, so both the large- and the small-batch paths are compiled
    t = time.perf_counter()
    q, _, _ = _drain(spark, boot, "warm", work, sz["warm"])
    _, _, warm_valid, warm_prog, _ = _live(ctx, q, "warm", sz["warm_live_s"])
    q.stop()
    valid["warm"] = np.concatenate([valid["warm"], warm_valid])
    ctx.setup_s += time.perf_counter() - t

    # phase 1: drain the measured backlog; the job stays up for phase 2
    wall_start = time.time()
    q, drain_prog, drain_s = _drain(spark, boot, "live", work, sz["backlog"])
    poller = _Poller(os.path.join(work, "kafka", "live_alerts"))
    poller.start()

    # phase 2: live, for --seconds, from a separate generator process
    w0, gsum, live_valid, live_prog, idle_s = _live(ctx, q, "live", ctx.seconds)
    wall_end = w0 + gsum["ticks"] * gsum["tick_s"]  # the generator's last write was due
    poller.done.set()
    poller.join()
    q.stop()
    valid["live"] = np.concatenate([valid["live"], live_valid])

    # output check: every topic's streamed alerts == its batch twin
    t_check = time.perf_counter()
    n_twin, wrong, live_files = _check(spark, boot, {
        "warm": (valid["warm"], _watermark_ms(warm_prog)),
        "live": (valid["live"], _watermark_ms(live_prog)),
    })
    check_s = time.perf_counter() - t_check

    # one latency sample per live window close: until the last output file
    # holding that window's alerts was seen
    closes: dict[int, float] = {}
    for name, we in live_files:
        if we + WATERMARK_MS <= E0_MS or name not in poller.seen:
            continue
        due = w0 + (we + WATERMARK_MS - E0_MS) / (1000 * SPEED)
        closes[we] = max(closes.get(we, -np.inf), (poller.seen[name] - due) * 1000)
    first_live = drain_prog[-1]["batchId"] + 1
    backlog = _backlog(live_prog, first_live, sz["backlog"], w0, gsum)
    dropped = sum(so.get("numRowsDroppedByWatermark", 0)
                  for prog in (warm_prog, live_prog) for p in prog
                  for so in p.get("stateOperators", []))
    validity = {
        "rows_dropped_by_watermark": dropped,
        "backlog_events_max": max(backlog, default=0),
        "backlog_limit": sz["rate"] * MAX_BACKLOG_S,
        "generator_late_ms_max": gsum["late_ms_max"],
    }
    invalid = (dropped > 0 or gsum["late_ms_max"] > MAX_LATE_MS
               or validity["backlog_events_max"] > validity["backlog_limit"])

    live_batches = [p for p in live_prog if p["batchId"] >= first_live]
    return {
        "latency_ms": [closes[we] for we in sorted(closes)],
        "throughput_per_s": sz["backlog"] / drain_s,
        "attempted": n_twin or 1,
        "failed": min(n_twin or 1, wrong + (n_twin if invalid else 0)),
        "window_s": wall_end - wall_start,
        "wall": (wall_start, wall_end),
        "detail": {
            "closes": len(closes), "close_latency_ms": {str(k): v for k, v in sorted(closes.items())},
            "twin_alerts": n_twin, "mismatched_alerts": wrong, "invalid": invalid,
            "validity": validity, "backlog_per_live_batch": backlog,
            "live_batch_ms": [p["durationMs"]["triggerExecution"] for p in live_batches],
            "idle_wait_s": idle_s, "check_s": check_s,
            "drain_s": drain_s, "live_s": ctx.seconds, "generator": gsum,
        },
        "layers": _layers(drain_prog, live_batches, dropped, validity["backlog_events_max"], gsum),
        "progress": live_prog,
    }


def _med(xs: list) -> float:
    return float(np.median(xs)) if xs else 0.0


def _layers(drain: list, live: list, dropped: int, backlog: int, gsum: dict) -> dict:
    live_data = [p for p in live if p["numInputRows"] > 0]
    dur = lambda ps, k: [p["durationMs"].get(k, 0) for p in ps]  # noqa: E731
    state = [so for p in live for so in p.get("stateOperators", [])]
    return {
        "streaming.batch_ms": _med(dur(live_data, "triggerExecution")),
        "streaming.latest_offset_ms": _med(dur(live_data, "latestOffset")),
        "streaming.query_planning_ms": _med(dur(live_data, "queryPlanning")),
        "streaming.wal_commit_ms": _med(dur(live_data, "walCommit")),
        "streaming.commit_offsets_ms": _med(dur(live_data, "commitOffsets")),
        "streaming.state_commit_ms": _med([so.get("commitTimeMs", 0) for so in state]),
        "streaming.drain_add_batch_ms": float(sum(dur(drain, "addBatch"))),
        "streaming.drain_batches": float(len(drain)),
        "streaming.state_rows": float(max((so["numRowsTotal"] for so in state), default=0)),
        "streaming.state_memory_bytes": float(max((so["memoryUsedBytes"] for so in state), default=0)),
        "streaming.rows_dropped_by_watermark": float(dropped),
        "streaming.backlog_events": float(backlog),
        "generator.late_ms": float(gsum["late_ms_max"]),
    }


def drain_rate(ctx) -> float:
    """Backlog events per second of one drain on `ctx.spark` (fresh topic)."""
    sz = _size(ctx.tiny)
    _preload(ctx.boot, "baseline_events", [ctx.seed, 20], sz["backlog"], sz["patients"])
    q, _, drain_s = _drain(ctx.spark, ctx.boot, "baseline", ctx.work, sz["backlog"])
    q.stop()
    return sz["backlog"] / drain_s
