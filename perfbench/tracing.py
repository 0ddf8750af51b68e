"""Traced-run instruments, read only through Spark's public status APIs.

* Job groups: every catalog execution runs its construction under
  ``<query>#<pass>:build`` and its noop write under ``<query>#<pass>:exec``;
  `statusTracker` then counts that group's jobs, stages and tasks.
* Planning: the built frame's `executedPlan` is forced and its
  QueryPlanningTracker's optimization + planning phases are read.
* Event log (uncompressed, in the run's scratch dir): per-task executor
  CPU, GC, run time, shuffle bytes and launch/finish times, attributed to
  job groups via each job's properties.
"""

from __future__ import annotations

import glob
import json
import os
import time

import numpy as np

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.marks: dict[str, dict[str, float]] = {}
        self.plan_s: dict[str, float] = {}

    def group(self, tag: str, phase: str) -> None:
        self.sc.setJobGroup(f"{tag}:{phase}", phase)
        self.marks.setdefault(tag, {})[phase] = time.perf_counter()

    def plan(self, df, tag: str) -> None:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        total = 0.0
        for name in ("optimization", "planning"):
            p = phases.get(name)
            if p.isDefined():
                total += (p.get().endTimeMs() - p.get().startTimeMs()) / 1000
        self.plan_s[tag] = total

    def end(self, tag: str) -> None:
        self.marks[tag]["end"] = time.perf_counter()
        self.sc.setJobGroup("bench:idle", "idle")

    def counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) the status tracker holds for a job group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        return len(jobs), stages, tasks


def read_event_log(log_dir: str) -> list[dict]:
    """Every finished task, with its job group, from the event log."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if not files:
        return []
    stage_group, tasks = {}, []
    with open(max(files, key=os.path.getmtime)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                for s in ev.get("Stage IDs", []):
                    stage_group[s] = grp
            elif kind == "SparkListenerTaskEnd":
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics", {})
                tasks.append({
                    "stage": ev["Stage ID"],
                    "group": stage_group.get(ev["Stage ID"], ""),
                    "launch_ms": info.get("Launch Time", 0),
                    "finish_ms": info.get("Finish Time", 0),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "read_b": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    "write_b": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                })
    return tasks


def spark_layers(tasks: list[dict], t0_ms: float, t1_ms: float, scale: float) -> dict:
    """spark.* metrics over tasks that ran inside [t0_ms, t1_ms] (wall ms).

    Totals are multiplied by `scale` (1 / passes for the catalog, so they
    read per pass). Idle share is the part of the window in which no task
    ran; task skew is the median over stages of max / median task time.
    """
    inside = [t for t in tasks if t["launch_ms"] >= t0_ms and t["finish_ms"] <= t1_ms]
    busy, end = 0.0, t0_ms
    for t in sorted(inside, key=lambda t: t["launch_ms"]):
        lo, hi = max(t["launch_ms"], end), t["finish_ms"]
        if hi > lo:
            busy += hi - lo
            end = hi
    by_stage: dict[int, list[float]] = {}
    for t in inside:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    skews = [max(v) / max(np.median(v), 1.0) for v in by_stage.values() if len(v) > 1]
    return {
        "spark.executor_cpu_s": scale * sum(t["cpu_ns"] for t in inside) / 1e9,
        "spark.gc_s": scale * sum(t["gc_ms"] for t in inside) / 1000,
        "spark.shuffle_read_bytes": scale * sum(t["read_b"] for t in inside),
        "spark.shuffle_write_bytes": scale * sum(t["write_b"] for t in inside),
        "spark.task_skew": float(np.median(skews)) if skews else 1.0,
        "queries.executor_idle_share": 1 - busy / max(t1_ms - t0_ms, 1.0),
    }
