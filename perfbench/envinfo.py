"""Environment fingerprint stored with every run, and memory probes.

The fingerprint is recorded, never used to normalise a metric: identical
code has measured 25% apart between sessions on a shared box, and the
fingerprint is how a reader tells such drift from a code change.
"""

from __future__ import annotations

import hashlib
import os
import resource
import time


def cpu_score() -> float:
    """Single-thread calibration: MiB of md5 per second over ~0.3 s."""
    buf = b"\xa5" * (1 << 20)
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.3:
        hashlib.md5(buf)
        n += 1
    return round(n / (time.perf_counter() - t0), 1)


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def cgroup_cpu_max() -> str:
    """cgroup v2 `cpu.max`, or the v1 quota/period pair, or 'absent'."""
    v2 = _read("/sys/fs/cgroup/cpu.max")
    if v2 is not None:
        return v2
    q = _read("/sys/fs/cgroup/cpu/cpu.cfs_quota_us")
    p = _read("/sys/fs/cgroup/cpu/cpu.cfs_period_us")
    return f"{q} {p}" if q is not None and p is not None else "absent"


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_jiffies() -> dict:
    """Machine-wide CPU time split from /proc/stat (steal = taken by the host)."""
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    line = (_read("/proc/stat") or "cpu").splitlines()[0].split()[1:]
    return dict(zip(names, map(int, line)))


def snapshot() -> dict:
    return {"loadavg": list(os.getloadavg()), "cpu_score_mib_s": cpu_score(),
            "jiffies": cpu_jiffies(), "t": time.time()}


def fingerprint() -> dict:
    return {"nproc": nproc(), "cgroup_cpu_max": cgroup_cpu_max(), "kernel": os.uname().release}


def peak_rss_mb(pid: int) -> float:
    """Peak resident set of process `pid` (VmHWM) plus this process's."""
    jvm_kb = 0
    for line in (_read(f"/proc/{pid}/status") or "").splitlines():
        if line.startswith("VmHWM:"):
            jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024
