"""Live heart-rate event generator process for the `alerts_stream` workload.

Runs as its own process, so producing load never shares the benchmark's
interpreter with the consumer side. An open loop: every `TICK_S` seconds
of wall time it writes one file of `--rate * TICK_S` messages to the
emulated Kafka topic. Events are stamped on a compressed clock,
``event_ms = e0_ms + (wall - w0) * 1000 * speed``, taken at the moment
each event was due, never when it was written. About 2% of events carry
an event time up to 2 s earlier than their due time: out of order, but
inside the pipeline's 5 s watermark bound. Lateness is how far each write
finished past its due time.

Saves the valid events (patient index, bpm, event_ms) as a ``.npy`` file
for the batch-twin check and a JSON summary (events written, lateness).

Usage:
    python3 perfbench/generator.py --bootstrap emulated://DIR --topic T \\
        --seed 1 --rate 2000 --seconds 10 --patients 2000 --w0 EPOCH_S \\
        --e0-ms MS --speed 20 --out valid.npy --summary s.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
from hw_kafka_flink_health_spark.sources.kafka import emulated_produce  # noqa: E402

TICK_S = 0.05  # wall seconds between the generator's writes
OUT_OF_ORDER_SHARE = 0.02
OUT_OF_ORDER_MAX_MS = 2000


def live(a: argparse.Namespace) -> None:
    rng = np.random.default_rng([a.seed, 30, *a.topic.encode()])
    per_tick = max(1, round(a.rate * TICK_S))
    n_ticks = int(a.seconds / TICK_S)
    valid_all, late_ms, written = [], [], 0
    for k in range(n_ticks):
        start = a.w0 + k * TICK_S
        due = start + TICK_S
        wall = start + np.arange(per_tick) * (TICK_S / per_tick)
        ev = a.e0_ms + ((wall - a.w0) * 1000 * a.speed).astype(np.int64)
        shifted = rng.random(per_tick) < OUT_OF_ORDER_SHARE
        ev = ev - shifted * rng.integers(0, OUT_OF_ORDER_MAX_MS, per_tick)
        msgs, valid = gen.heart_rate_records(rng, per_tick, a.patients, ev)
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        emulated_produce(a.bootstrap, a.topic, msgs)
        late_ms.append((time.time() - due) * 1000)
        valid_all += valid
        written += per_tick
    np.save(a.out, gen.valid_array(valid_all))
    with open(a.summary, "w") as f:
        json.dump({
            "events": written,
            "ticks": n_ticks,
            "tick_s": TICK_S,
            "per_tick": per_tick,
            "late_ms_p50": float(np.percentile(late_ms, 50)),
            "late_ms_max": float(np.max(late_ms)),
        }, f)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--bootstrap", required=True)
    p.add_argument("--topic", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--patients", type=int, required=True)
    p.add_argument("--e0-ms", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--rate", type=float, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--w0", type=float, required=True)
    p.add_argument("--speed", type=float, required=True)
    p.add_argument("--summary", required=True)
    a = p.parse_args()
    live(a)


if __name__ == "__main__":
    main()
