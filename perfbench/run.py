#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, metrics as JSON.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--tiny]

Workloads (see perfbench/README.md for why each exists):
  alerts_stream      the flagship Kafka -> windowed alerts -> Kafka job
  catalog_short      closed loop over short oracle-checked catalog queries
  catalog_iterative  closed loop over the fixpoint / cache query family

Run from the root of a checkout. Inputs are synthesized from the seed; all
scratch files (tables, topics, checkpoints, Spark local dirs, event logs)
live under `.perfbench_work/` in the checkout and are removed at exit, except
one JSON record per run in `.perfbench_work/records/`. The last line of
standard output is the result:

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(job groups, statusTracker counts, an uncompressed event log and per-batch
progress are switched on only then). `--tiny` shrinks every input for the
smoke test. Exits non-zero without a result if the program is missing or a
run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "hw_kafka_flink_health_spark")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("alerts_stream", "catalog_short", "catalog_iterative")
DRIVER_MEM = "3g"

END_TO_END = {
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
    "correct_share": "share",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.files.load_ms": "ms",
    "sources.files.load_jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "queries.exec_jobs": "count",
    "queries.exec_stages": "count",
    "queries.exec_tasks": "count",
    "queries.executor_idle_share": "share",
    "spark.plan_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.task_skew": "ratio",
    "streaming.batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.drain_add_batch_ms": "ms",
    "streaming.drain_batches": "count",
    "streaming.drain_1core_events_per_s": "1/s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.backlog_events": "count",
    "generator.late_ms": "ms",
}


class Ctx:
    """What a workload module needs: session, scratch dir, seed, budget."""

    def __init__(self, a: argparse.Namespace, work: str):
        self.workload, self.seed, self.seconds = a.workload, a.seed, a.seconds
        self.tiny, self.work = a.tiny, work
        self.spark = self.tracer = None
        self.setup_s = 0.0


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with ten samples
    beyond it, p = 100 * (1 - 10 / n), capped at 99.9; the median when
    there are fewer than 20 samples."""
    p = min(99.9, max(50.0, 100 * (1 - 10 / max(len(samples), 1))))
    return p, float(np.percentile(samples, p))


def _session(ctx: Ctx, trace: bool, cores: int):
    from hw_kafka_flink_health_spark.session import get_spark

    from tracing import EVENT_LOG_CONF

    conf = {
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        # a fixed-size heap: peak RSS then tracks touched memory, not the
        # timing of G1's heap resizing (which moved it 25% run to run)
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if trace:
        os.makedirs(os.path.join(ctx.work, "eventlog"))
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = os.path.join(ctx.work, "eventlog")
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)


def _stop_jvm() -> None:
    """Stop any active Spark session, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _catalog_layers(ctx: Ctx, res: dict) -> dict:
    """queries.* and sources.files.* from job groups and tracker phases."""
    from hw_kafka_flink_health_spark.sources.files import load_table

    import gen

    tr = ctx.tracer
    sums = dict.fromkeys(("build_s", "plan_s", "exec_s", "build_jobs", "exec_jobs",
                          "exec_stages", "exec_tasks"), 0.0)
    per_query = {}
    for name, runs in res["per_query"].items():
        m = [tr.marks[tag] for tag, _ in runs]
        plan = float(np.median([tr.plan_s[tag] for tag, _ in runs]))
        build = float(np.median([x["exec"] - x["build"] for x in m])) - plan
        exe = float(np.median([x["end"] - x["exec"] for x in m]))
        last = runs[-1][0]
        bj, _, _ = tr.counts(f"{last}:build")
        ej, es, et = tr.counts(f"{last}:exec")
        per_query[name] = {"build_s": build, "plan_s": plan, "exec_s": exe,
                           "build_jobs": bj, "exec_jobs": ej, "exec_stages": es, "exec_tasks": et}
        for k, v in per_query[name].items():
            sums[k] += v
    load_ms = load_jobs = 0.0
    for t in gen.TABLES:
        tr.sc.setJobGroup(f"load:{t}", "load")
        t0 = time.perf_counter()
        load_table(ctx.spark, ctx.data, t)
        load_ms += (time.perf_counter() - t0) * 1000
        load_jobs += tr.counts(f"load:{t}")[0]
    res["detail"]["layers_per_query"] = per_query
    return {
        "sources.files.load_ms": load_ms,
        "sources.files.load_jobs": load_jobs,
        **{f"{'spark' if k == 'plan_s' else 'queries'}.{k}": v for k, v in sums.items()},
    }


def _stem(a: argparse.Namespace, trace: int) -> str:
    return f"{a.workload}{'_tiny' if a.tiny else ''}_trace{trace}"


def _last_untraced(a: argparse.Namespace) -> dict | None:
    try:
        with open(os.path.join(WORK_ROOT, "records", f"last_{_stem(a, 0)}.json")) as f:
            return json.load(f)["result"]["metrics"]
    except (OSError, ValueError, KeyError):
        return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: program package not found at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import envinfo

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(envinfo.nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM (spark-submit's launcher too): temp files in the checkout,
        # and no hsperfdata file, which HotSpot always writes to /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    ctx = Ctx(a, work)
    env = {"fingerprint": envinfo.fingerprint(), "before": envinfo.snapshot()}
    spark, phases = None, {}
    try:
        import catalog
        import stream

        module = stream if a.workload == "alerts_stream" else catalog
        t0 = time.perf_counter()
        module.prepare(ctx)
        phases["prepare"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = ctx.spark = _session(ctx, bool(a.trace), envinfo.nproc())
        session_s = phases["session"] = time.perf_counter() - t0
        ctx.setup_s += session_s
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        if a.trace:
            from tracing import Tracer

            ctx.tracer = Tracer(spark) if module is catalog else None
        t0 = time.perf_counter()
        res = module.run(ctx)
        phases["run"] = time.perf_counter() - t0
        peak_mb = envinfo.peak_rss_mb(jvm_pid)
        layers = {}
        if a.trace:
            layers = dict.fromkeys(PER_LAYER, 0.0)
            layers["session.start_s"] = session_s
            if module is catalog:
                layers.update(_catalog_layers(ctx, res))
            else:
                layers.update(res["layers"])
        spark.stop()
        if a.trace:
            from tracing import read_event_log, spark_layers

            tasks = read_event_log(os.path.join(work, "eventlog"))
            w0, w1 = res["wall"]
            scale = len(ctx.names) / max(len(res["latency_ms"]), 1) if module is catalog else 1.0
            layers.update(spark_layers(tasks, w0 * 1000, w1 * 1000, scale))
            if module is catalog:
                cpu: dict[str, float] = {}
                for t in tasks:
                    name = t["group"].split("#")[0]
                    cpu[name] = cpu.get(name, 0.0) + t["cpu_ns"] / 1e9
                res["detail"]["executor_cpu_s_per_exec"] = {
                    n: cpu.get(n, 0.0) / len(runs) for n, runs in res["per_query"].items()}
            if module is stream:
                # single-thread baseline: same drain, local[1], same (warm) JVM
                ctx.spark = _session(ctx, False, 1)
                layers["streaming.drain_1core_events_per_s"] = stream.drain_rate(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    env["after"] = envinfo.snapshot()

    lat = res["latency_ms"]
    pct, tail_v = tail(lat)
    failed, attempted = res["failed"], max(res["attempted"], 1)
    e2e = {
        "latency_p50_ms": float(np.median(lat)),
        "latency_tail_ms": tail_v,
        "throughput_per_s": res["throughput_per_s"],
        "correct_share": 1 - failed / attempted,
        "peak_rss_mb": peak_mb,
        "setup_s": ctx.setup_s,
    }
    shown = layers if a.trace else e2e
    units = PER_LAYER if a.trace else END_TO_END
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(shown[k]), "unit": units[k]} for k in units},
    }
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "tiny": a.tiny, "result": out, "end_to_end": e2e, "failed_share": failed / attempted,
        "tail_percentile": pct, "samples": len(lat), "window_s": res["window_s"],
        "env": env, "phase_s": phases, "detail": res["detail"],
    }
    if a.trace:
        base = _last_untraced(a)
        if base:
            record["tracing_overhead"] = {
                k: e2e[k] - base[k]["value"] for k in END_TO_END if k in base}
        if "progress" in res:
            record["progress"] = res["progress"]
    rec_dir = os.path.join(WORK_ROOT, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = _stem(a, a.trace)
    for name in (f"{stem}_seed{a.seed}.json", f"last_{stem}.json"):
        with open(os.path.join(rec_dir, name), "w") as f:
            json.dump(record, f, indent=1, default=str)
    summary = {k: round(v, 4) for k, v in e2e.items()}
    print(f"perfbench: {a.workload} tail=p{pct} n={len(lat)} {summary}", file=sys.stderr)
    if a.trace:
        for k, unit in PER_LAYER.items():
            print(f"perfbench:   {k:<40} {layers[k]:>16.4f} {unit}", file=sys.stderr)
        print(f"perfbench: tracing overhead (traced - last untraced) "
              f"{record.get('tracing_overhead', 'n/a: no untraced record yet')}", file=sys.stderr)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
