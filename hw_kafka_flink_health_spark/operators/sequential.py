"""Short sequential recurrences over series that are short by
construction: Holt and Holt-Winters smoothing, Croston's intermittent-
demand EWMAs and banded DTW over a fixed calendar window, the Markov
stationary power iteration over an event-type transition matrix, and
greedy MMR over a top-K shortlist. The whole recurrence runs in one
pandas call, instead of one Spark job per step (`WITH RECURSIVE`, a
checkpointed driver loop) or a driver loop over collected rows."""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.pyship import ship_package

#: most rows one `fold` group accepts
FOLD_MAX_ROWS = 10_000


def fold(
    df: DataFrame,
    order_by: str | Sequence[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Run `fn` once over ALL rows of `df`, sorted by `order_by`; its
    frame's rows, of `schema`, are the result (an empty `df` gives an
    empty result without calling `fn`).

    Bound: the rows form one `applyInPandas` group, so every row goes to
    ONE Python worker as one pandas frame. That only scales for series
    whose length does not grow with the data (calendar buckets, a top-K
    shortlist), so a group of more than FOLD_MAX_ROWS rows raises instead
    of pulling a data-sized table through a single worker."""
    ship_package(df.sparkSession)
    keys = [order_by] if isinstance(order_by, str) else list(order_by)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > FOLD_MAX_ROWS:
            raise ValueError(f"fold got {len(pdf)} rows, over its bound of {FOLD_MAX_ROWS}")
        return fn(pdf.sort_values(keys, kind="stable").reset_index(drop=True))

    return df.groupBy(F.lit(1).alias("__fold")).applyInPandas(run, schema=schema)


def greedy_mmr(ids, rel, sims, k: int, w_rel, w_pen) -> list[tuple]:
    """Greedy maximal-marginal-relevance selection (Carbonell & Goldstein)
    of up to `k` candidates: each round picks the not-yet-picked one with
    the largest `w_rel * rel - w_pen * pen`, where pen is its largest
    similarity to an earlier pick (`sims[i, j]`; the diagonal is never
    read). pen is unset in round 1, which scores `w_rel * rel`; after
    that it is the running maximum, with NO floor at 0 (an anti-correlated
    pick carries a negative penalty). `ids` must ascend, so the first
    argmax breaks ties to the smallest id. The arithmetic stays in the
    numpy inputs' dtype, so int64 stays exact.

    Returns one (id, score, pen) per round; pen is None in round 1."""
    if np.any(np.diff(ids) <= 0):
        raise ValueError("greedy_mmr needs strictly ascending ids")
    pen = None
    free = np.ones(len(ids), dtype=bool)
    picks = []
    for _ in range(min(k, len(ids))):
        score = w_rel * rel if pen is None else w_rel * rel - w_pen * pen
        open_ = np.flatnonzero(free)
        best = open_[np.argmax(score[open_])]
        picks.append((ids[best], score[best], None if pen is None else pen[best]))
        pen = sims[:, best] if pen is None else np.maximum(pen, sims[:, best])
        free[best] = False
    return picks
