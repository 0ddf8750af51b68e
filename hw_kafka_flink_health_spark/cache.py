"""Session caches and session-conf overrides, each implemented once.

Several queries of one session build the same expensive intermediate:
five registered queries run the identical jaccard-pairs pipeline, three
of them the identical connected-components fixpoint on it, and every
customer-supplier graph query the identical orders-lineitem edge list.
An ``LRU`` keyed by ``frame_key`` hands the first build's checkpointed
frame to the later queries. At 100 TB this is the "materialize the edge
table once" step every production graph pipeline runs at ingest.

Why a hit can never serve stale data: ``frame_key`` pins
* the session UUID, so a sibling ``spark.newSession()`` (same context,
  separate catalog and conf) is never served a frame checkpointed under
  another session;
* the exact input file list plus each file's size and mtime. Parquet
  writers name part files uniquely, and this repo's fixtures are
  fixed-name single files, so an in-session overwrite at the same path
  must change the key too. A frame reading a file ``os.stat`` cannot
  read (an object-store URI, a deleted file) gets no key, as in
  ``load_table``: a name-only key could serve a rewritten input;
* the canonicalized analyzed plan (exprIds normalized, so identical
  builds compare equal), which pins every transformation between the
  scan and the operator: a filtered or re-projected frame over the same
  files is never served another frame's result. It is rendered
  untruncated, since the default ``maxToStringFields`` render cuts wide
  expression lists at 25 fields and two wide plans could collide;
* every parameter that shapes the result.

Frames with no input files (``createDataFrame`` fixtures) get no key and
are never cached: a LocalRelation's canonical form does not pin its rows.
The caches are in memory, per process: every run still computes from the
parquet inputs, and a hit changes wall time only, never a result.

Deployment caveat: cached frames are localCheckpoint-backed, i.e.
executor-local, non-replicated blocks. On a LOCAL master (this engine's
driver contract) the blocks live as long as the session. On a
multi-executor deployment with dynamic allocation, an executor loss
would make every later hit fail on missing blocks rather than recompute;
port the caches to reliable ``checkpoint()`` (or catch the block-fetch
failure and invalidate) before running off local mode.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from collections import OrderedDict
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession


class LRU:
    """Bounded map from key to built value; a hit refreshes recency.

    ``build`` runs OUTSIDE the lock: a build may itself go through the
    cache (the undirected edge list builds on the directed one), and a
    build is a Spark job that must not stall other threads' hits. Two
    threads missing on one key both build; the first insert wins and
    both get it back.

    ``hits``, ``misses``, ``evictions`` and ``build_s`` (seconds spent in
    builds, summed over threads) count keyed lookups since creation."""

    def __init__(self, cap: int):
        self.cap = cap
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()
        self.hits = self.misses = self.evictions = 0
        self.build_s = 0.0

    def get_or_build(self, key, build):
        """The cached value for `key`, else `build()` cached under it.
        A ``None`` key builds without caching."""
        if key is None:
            return build()
        with self._lock:
            if key in self._entries:
                self.hits += 1
                self._entries.move_to_end(key)
                return self._entries[key]
            self.misses += 1
        t0 = time.perf_counter()
        value = build()
        elapsed = time.perf_counter() - t0
        with self._lock:
            self.build_s += elapsed
            value = self._entries.setdefault(key, value)
            self._entries.move_to_end(key)
            while len(self._entries) > self.cap:
                self._entries.popitem(last=False)
                self.evictions += 1
        return value

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()


def file_stats_signature(files: tuple) -> tuple:
    """(size, mtime_ns) per input file; None for a file os.stat cannot
    read (a non-local URI, a deleted file), which callers build uncached."""
    out = []
    for f in files:
        p = unquote(urlparse(f).path) if f.startswith("file:") else f
        try:
            st = os.stat(p)
            out.append((st.st_size, st.st_mtime_ns))
        except OSError:
            out.append(None)
    return tuple(out)


def frame_key(df: DataFrame, *params) -> tuple | None:
    """Cache key (session, files, file stats, canonical plan, params) for
    `df`, or None when `df` reads no files or a file os.stat cannot read
    (see the module docstring)."""
    try:
        files = tuple(sorted(df.inputFiles()))
        stats = file_stats_signature(files)
        if not files or None in stats:
            return None
        spark = df.sparkSession
        with untruncated_plans(spark):
            plan = df._jdf.queryExecution().analyzed().canonicalized().toString()
        session = spark._jsparkSession.sessionUUID()
    except Exception:
        return None
    return (session, files, stats, plan, *params)


# Session conf is global to every thread of the session, so an unlocked
# save/set/restore interleaved by two threads can "restore" the other
# thread's override and leave it set for good. Reentrant because an
# override may run code that overrides again: capture_checkpoints renders
# plans (an override) inside the localCheckpoint that checkpoint_partitioned
# runs under its own override. The lock orders overrides only; a job of
# another thread that runs meanwhile still sees the overridden value.
_CONF_LOCK = threading.RLock()


@contextlib.contextmanager
def conf_override(spark: SparkSession, **kv: str):
    """Set session confs for the block, then restore them; a key that was
    unset before is unset again. Pass dotted keys as ``**{key: value}``."""
    jconf = spark.conf._jconf
    with _CONF_LOCK:
        saved = {k: spark.conf.get(k) if jconf.contains(k) else None for k in kv}
        try:
            for k, v in kv.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, old in saved.items():
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)


def untruncated_plans(spark: SparkSession):
    """`conf_override` lifting ``maxToStringFields``, so plan text keeps
    every field of wide nodes."""
    return conf_override(spark, **{"spark.sql.debug.maxToStringFields": "2147483647"})
