"""SparkSession factory with engine-wide defaults.

The reference pins runtime config imperatively (parallelism=1, event-time
characteristic, 5 s checkpoints — ``src/flink_job.py:49-59``). Here the
analogous knobs are declarative session confs; per-query settings (watermark,
trigger, checkpoint dir) live on each query.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing) so the same code survives a 1000-executor cluster; shuffle
partition count is a default for local runs and is expected to be overridden
(or left to AQE) on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: Conf bundle for the RocksDB state store provider (opt-in: pass it as
#: get_spark(extra_conf=...) or apply it with cache.conf_override).
#: The default HDFS-backed provider keeps EVERY key's state on the JVM
#: heap — fine for the sandbox, but a 100x-scale sliding-window or CEP
#: job (state amplification: a 1-min window sliding by 10 s holds 6
#: copies of every key) needs state off-heap and incrementally
#: checkpointable, which is exactly what RocksDB provides (bundled
#: rocksdbjni, no extra jars). Changelog checkpointing uploads per-batch
#: deltas instead of full SST snapshots — the posture for large state.
ROCKSDB_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def _cgroup_limit_bytes() -> int | None:
    """Container memory limit, if one is set. /proc/meminfo reports HOST
    RAM inside a cgroup-limited container, so the OOM guard must take
    the minimum with the cgroup ceiling (ADVICE r11). The limit can sit
    on the process's OWN cgroup or ANY ancestor (k8s pod slices,
    --cgroupns=host layouts put it below the root, where a root-only
    probe reads nothing — review r12), so resolve the cgroup path from
    /proc/self/cgroup and take the minimum over the whole chain, both
    v2 (memory.max) and v1 (memory/.../memory.limit_in_bytes). 'max' /
    the v1 no-limit sentinel (~2^63) mean unbounded.
    """
    limits: list[int] = []

    def probe(path: str) -> None:
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            return
        if raw == "max":
            return
        try:
            v = int(raw)
        except ValueError:
            return
        if 0 < v < 1 << 62:  # v1 prints ~2^63 when unconstrained
            limits.append(v)

    try:
        with open("/proc/self/cgroup") as fh:
            lines = fh.read().splitlines()
    except OSError:
        lines = []
    for ln in lines:
        parts = ln.split(":", 2)
        # v2 unified ("") or a v1 line whose controller LIST contains
        # memory — a comounted "memory,cpuacct" line is still the memory
        # controller (an exact-match test silently disabled the guard on
        # comounted hosts — review r12)
        if len(parts) != 3 or (
            parts[1] != "" and "memory" not in parts[1].split(",")
        ):
            continue
        if parts[1] == "":
            bases = ["/sys/fs/cgroup"]
            fname = "memory.max"
        else:
            # the mount point may be the symlink (/sys/fs/cgroup/memory)
            # or the comount directory (/sys/fs/cgroup/memory,cpuacct)
            bases = ["/sys/fs/cgroup/memory", f"/sys/fs/cgroup/{parts[1]}"]
            fname = "memory.limit_in_bytes"
        segs = [s for s in parts[2].strip("/").split("/") if s]
        for base in dict.fromkeys(bases):
            for i in range(len(segs), -1, -1):  # own cgroup -> root
                probe("/".join([base, *segs[:i], fname]))
    if not lines:  # no /proc on this platform: fall back to root probes
        probe("/sys/fs/cgroup/memory.max")
        probe("/sys/fs/cgroup/memory/memory.limit_in_bytes")
    return min(limits) if limits else None


def _default_driver_mem() -> str:
    """Local-mode driver heap default: min(12g, ~70% of available RAM),
    where available = min(MemTotal, cgroup limit) — the cgroup is where
    the OOM-killer actually engages in a container (ADVICE r11).

    /proc/meminfo is Linux-only; anywhere it is unreadable the cap is
    returned (the pre-r11 behavior).
    """
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total = int(line.split()[1]) * 1024
                    cg = _cgroup_limit_bytes()
                    if cg is not None:
                        total = min(total, cg)
                    total_gib = total / (1024**3)
                    return f"{max(1, min(12, int(total_gib * 0.7)))}g"
    except OSError:
        pass
    return "12g"


def get_spark(
    app_name: str = "hw_kafka_flink_health_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    Defaults matter for correctness as well as speed:

    * ``spark.sql.session.timeZone=UTC`` — the reference's timestamps are
      UTC ISO8601 (``src/kafka_producer.py:25``); UTC also makes results
      comparable against UTC-naive engines (DuckDB oracle).
    * ``spark.sql.legacy.parquet.nanosAsLong=true`` — every fixture's
      ``events.ts`` is TIMESTAMP(MICROS), but parquet written elsewhere
      may store TIMESTAMP(NANOS), which Spark 4 otherwise rejects; with
      it, such a file reads as longs and the loader converts
      nanos->timestamp explicitly.
    * AQE + skew-join handling on: at 100 TB, skewed keys and bad static
      partition counts are the norm, not the exception.

    Streaming state stays in the HDFS-backed in-memory provider, so small
    jobs skip the native-store overhead; pass ``ROCKSDB_STATE_CONF`` as
    ``extra_conf`` where windowed/CEP state exceeds executor heap.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    # Local mode runs ALL executor threads inside the driver JVM, whose
    # heap defaults to -Xmx1g: 32 concurrent tasks sharing 1 GiB is the
    # round-10 bench OOM (heap pressure from per-task hash maps +
    # pinned localCheckpoint blocks occasionally tipped over). Size the
    # heap like a real executor instead — min(12g, ~70% of physical
    # RAM) so a small host is never OOM-killed by the OS (ADVICE r10);
    # overridable via SPARK_GRAFT_DRIVER_MEM. Only effective when set
    # before the JVM launches, which get_spark is (the first session
    # this process builds) — a pre-existing JVM silently ignores it.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
