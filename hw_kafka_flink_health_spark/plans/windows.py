"""Parse Catalyst plan text for unpartitioned window specs.

Catalyst prints a window spec as ``windowspecdefinition(partExprs...,
sortExprs..., specifiedwindowframe(...))``; sort expressions carry
' ASC ' / ' DESC ', partition expressions never do. An EMPTY partition
spec — the first non-frame arg is a sort expr, or there are no non-frame
args at all (an ``over ()`` whole-frame window) — plans as
``Exchange SinglePartition`` + one task sorting the entire input: the
one plan shape that cannot survive 100 TB fact cardinality. One parser
serves every gate, so a Catalyst print-format change is fixed in
exactly one place (review r11).
"""

from __future__ import annotations

import contextlib
import threading

from hw_kafka_flink_health_spark.cache import untruncated_plans


# The active captures of each thread, innermost last. The wrapper that
# `capture_checkpoints` installs appends to every list on the calling
# thread's stack, so concurrent builds on other threads never see each
# other's plans and nested captures all fill.
_CAPTURES = threading.local()
_INSTALL_LOCK = threading.Lock()
_installed = False


def _install_capture_hook() -> None:
    """Wrap ``localCheckpoint`` once per process; never unwrapped.

    MUST patch the CONCRETE class: on Spark 4, DataFrame instances are
    ``pyspark.sql.classic.dataframe.DataFrame``, which defines its OWN
    ``localCheckpoint`` — patching only the ``pyspark.sql.DataFrame``
    base is a silent no-op (instance lookup never reaches the base
    attribute). The r11 sweep's capture never fired for exactly this
    reason; found in r12 when ``stats_kruskal_wallis``'s runtime
    single-partition WARN contradicted an empty capture list. Every
    class in the MRO chain that defines the method is wrapped around its
    own original.
    """
    global _installed
    with _INSTALL_LOCK:
        if _installed:
            return
        targets = [("pyspark.sql", "DataFrame")]
        try:
            from pyspark.sql.classic import dataframe as _classic  # noqa: F401

            targets.append(("pyspark.sql.classic.dataframe", "DataFrame"))
        except ImportError:  # older line without the classic split
            pass
        import importlib

        for mod_name, cls_name in targets:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            orig = cls.__dict__.get("localCheckpoint")
            if orig is not None:
                setattr(cls, "localCheckpoint", _capturing(orig))
        _installed = True


def _capturing(orig_fn):
    # signature-transparent: PySpark 4.1's localCheckpoint is
    # (self, eager=True, storageLevel=None) — a fixed (self,
    # eager) wrapper would TypeError on storageLevel and turn a
    # legitimate build into a spurious BUILD_ERROR (review r12)
    def capturing(self, *args, **kwargs):
        active = getattr(_CAPTURES, "stack", None)
        if active:
            plan = analyzed_str(self)
            physical = None
            if any(executed is not None for _, executed in active):
                physical = str(self._jdf.queryExecution().executedPlan())
            for captured, executed in active:
                captured.append(plan)
                if executed is not None:
                    executed.append(physical)
        return orig_fn(self, *args, **kwargs)

    return capturing


@contextlib.contextmanager
def capture_checkpoints(captured: list, executed: list | None = None):
    """Append the ANALYZED plan of every frame this thread is about to
    ``localCheckpoint`` (untruncated) to ``captured``, before
    materialization — the sweep's window into subtrees the checkpoint
    later hides. When ``executed`` is given, the EXECUTED (physical)
    plan text is appended there too, for shape tests that need to see
    exchanges behind a checkpoint. Only checkpoints taken on the calling
    thread are captured.
    """
    _install_capture_hook()
    if not hasattr(_CAPTURES, "stack"):
        _CAPTURES.stack = []
    _CAPTURES.stack.append((captured, executed))
    try:
        yield captured
    finally:
        _CAPTURES.stack.pop()


def split_top_level(s: str) -> list[str]:
    """Split on commas not nested inside parentheses."""
    out: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


def analyzed_str(df) -> str:
    """UNTRUNCATED analyzed-plan text for the window sweep.

    Catalyst truncates every node's field list past
    ``spark.sql.debug.maxToStringFields`` (default 25) with
    ``... N more fields`` — which silently DROPS windowspecdefinition
    from wide Project/Window nodes and turns the sweep into a false
    negative (``stats_kruskal_wallis``'s single-partition value-rank
    window evaded the r11 gate exactly this way: the WARN fired at
    runtime while the captured plan text showed no window at all).
    Raise the cap around the render; restore afterwards so PLANS.md
    dumps and log lines keep their readable width.
    """
    with untruncated_plans(df.sparkSession):
        return str(df._jdf.queryExecution().analyzed())


def unpartitioned_specs(plan: str) -> list[str]:
    """Arg-strings of every windowspecdefinition with NO partition exprs."""
    hits: list[str] = []
    needle = "windowspecdefinition("
    i = 0
    while True:
        i = plan.find(needle, i)
        if i < 0:
            break
        start = i + len(needle)
        depth, j = 1, start
        while j < len(plan) and depth:
            if plan[j] == "(":
                depth += 1
            elif plan[j] == ")":
                depth -= 1
            j += 1
        args = [
            a
            for a in split_top_level(plan[start : j - 1])
            if not a.startswith("specifiedwindowframe(")
        ]
        if not args or (" ASC " in args[0] or " DESC " in args[0]):
            hits.append(", ".join(args)[:120])
        i = j
    return hits
