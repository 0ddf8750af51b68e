"""Custom stateful / grouped-map operators — the Python escape hatch.

Everything else in this engine is pure Catalyst; these two operators
demonstrate the sanctioned slow paths for semantics the built-ins can't
express (SURVEY §2.C "UDF/UDAF escape hatch"):

* `grouped_zscore` — applyInPandas grouped-map (Arrow batches, one pandas
  DataFrame per group): the UDAF-style per-group computation.
* `new_peak_stream` — applyInPandasWithState: a custom streaming operator
  with per-key GroupState (here: running-max "new peak" detection, the
  kind of per-patient monitor the reference's pipeline would grow next).
  Its deterministic batch twin (`new_peaks_batch`) is a pure window
  expression — same results on the same data, oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hw_kafka_flink_health_spark.pyship import ship_package

ZSCORE_SCHEMA = "event_id long, event_type string, value double, zscore double"


def grouped_zscore(events: DataFrame) -> DataFrame:
    """Per-event-type z-score via grouped-map pandas (ddof=1)."""
    ship_package(events.sparkSession)

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        sd = v.std(ddof=1)
        # SQL semantics: undefined std (singleton group) or zero std ->
        # NULL zscore (NaN canonicalizes to NULL), matching
        # (x - avg) / stddev_samp in engines where /0 yields NULL
        pdf["zscore"] = (
            (v - v.mean()) / sd if pd.notna(sd) and sd > 0 else float("nan")
        )
        return pdf[["event_id", "event_type", "value", "zscore"]]

    return events.select("event_id", "event_type", "value").groupBy("event_type").applyInPandas(
        per_group, schema=ZSCORE_SCHEMA
    )


PEAK_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("patient_id", T.StringType()),
        T.StructField("event_time", T.LongType()),
        T.StructField("heart_rate_bpm", T.IntegerType()),
    ]
)
PEAK_STATE_SCHEMA = T.StructType([T.StructField("max_bpm", T.IntegerType())])


def new_peak_stream(parsed: DataFrame) -> DataFrame:
    """Streaming custom stateful operator: emit an event iff its bpm
    strictly exceeds every previously seen bpm for that patient.

    GroupState holds one int per key — O(keys) state, watermark-free
    (monotone). Rows within a micro-batch are processed in event-time
    order; cross-batch order follows stream time, as with any
    at-least-once streaming monitor.
    """
    ship_package(parsed.sparkSession)

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        max_bpm = state.get[0] if state.exists else None
        frames = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            xs = pdf.sort_values("event_time")
            bpm = xs["heart_rate_bpm"].astype("int64").reset_index(drop=True)
            # running max of strictly-previous rows (carry-in = prior state);
            # vectorized cummax+shift — no per-row Python loop
            prev_max = bpm.cummax().shift(1)
            if max_bpm is not None:
                prev_max = prev_max.fillna(float(max_bpm)).clip(lower=float(max_bpm))
            is_peak = prev_max.isna() | (bpm > prev_max)
            max_bpm = int(max(bpm.max(), max_bpm if max_bpm is not None else bpm.max()))
            if is_peak.any():
                keep = xs.reset_index(drop=True)[is_peak.to_numpy()]
                frames.append(
                    pd.DataFrame(
                        {
                            "patient_id": key[0],
                            "event_time": keep["event_time"].astype("int64").to_numpy(),
                            "heart_rate_bpm": keep["heart_rate_bpm"]
                            .astype("int32")
                            .to_numpy(),
                        }
                    )
                )
        state.update((max_bpm,))
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return parsed.groupBy("patient_id").applyInPandasWithState(
        fn,
        outputStructType=PEAK_OUTPUT_SCHEMA,
        stateStructType=PEAK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def new_peaks_batch(
    df: DataFrame,
    *,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Batch twin of new_peak_stream as a pure window expression: a row is
    a peak iff its value > max over all strictly-previous rows (pass
    tiebreak_cols to totalize the order under equal timestamps)."""
    w = (
        Window.partitionBy("patient_id")
        .orderBy("event_time", *(tiebreak_cols or []))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max("heart_rate_bpm").over(w)
    return (
        df.withColumn("__prev_max", prev_max)
        .filter(F.col("__prev_max").isNull() | (F.col("heart_rate_bpm") > F.col("__prev_max")))
        .select("patient_id", "event_time", "heart_rate_bpm")
    )


EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("patient_id", T.StringType()),
        T.StructField("event_time", T.LongType()),
        T.StructField("heart_rate_bpm", T.IntegerType()),
        T.StructField("ewma_bpm", T.DoubleType()),
    ]
)


EWMA_STATE_SCHEMA = T.StructType([T.StructField("ewma", T.DoubleType())])
EWMA_ALPHA = 0.2


def _ewma_batch_frame(
    key, pdf: pd.DataFrame, prev: float | None
) -> tuple[pd.DataFrame | None, float | None]:
    """Vectorized per-micro-batch EWMA step.

    pandas ``ewm(alpha, adjust=False)`` runs exactly the recursion
    ``e_t = a*x_t + (1-a)*e_{t-1}`` (seed ``e_1 = x_1``) in Cython — no
    per-row Python loop. Carried state is threaded by prepending the
    previous EWMA as a virtual first observation and dropping it, which
    reproduces the seeded recursion term-for-term."""
    if not len(pdf):
        return None, prev
    xs = pdf.sort_values("event_time")
    vals = xs["heart_rate_bpm"].astype(float).reset_index(drop=True)
    if prev is None:
        sm = vals.ewm(alpha=EWMA_ALPHA, adjust=False).mean()
    else:
        sm = (
            pd.concat([pd.Series([float(prev)]), vals], ignore_index=True)
            .ewm(alpha=EWMA_ALPHA, adjust=False)
            .mean()
            .iloc[1:]
            .reset_index(drop=True)
        )
    frame = pd.DataFrame(
        {
            "patient_id": key,
            "event_time": xs["event_time"].astype("int64").to_numpy(),
            "heart_rate_bpm": vals.astype("int64").to_numpy(),
            "ewma_bpm": sm.to_numpy(),
        }
    )
    return frame, float(sm.iloc[-1])


def ewma_stream(parsed: DataFrame) -> DataFrame:
    """Per-patient exponentially-weighted moving average of heart rate —
    a smoothing monitor whose recursion (ewma_t = a*x_t + (1-a)*ewma_{t-1})
    needs true per-key running state, not a window frame. GroupState
    holds one double per key and survives micro-batches; at scale state
    lives in the per-partition StateStore exactly like the built-in
    windowed aggregations (RocksDB provider in production).

    Batch twin for correctness: `ewma_batch` computes the same recursion
    as a per-key array fold — see tests/test_stateful.py.
    """
    ship_package(parsed.sparkSession)

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        prev = state.get[0] if state.exists else None
        frames = []
        for pdf in pdfs:
            frame, prev = _ewma_batch_frame(key[0], pdf, prev)
            if frame is not None:
                frames.append(frame)
        if prev is not None:
            state.update((prev,))
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return parsed.groupBy("patient_id").applyInPandasWithState(
        fn,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def ewma_batch(parsed: DataFrame) -> DataFrame:
    """Deterministic batch twin of `ewma_stream`: per-key event-time sort
    + aggregate-fold over the collected series (keys are small: one
    patient's readings), exploded back to rows. Same recursion, no state
    store — used to pin the streaming operator's output in tests."""
    rows = (
        parsed.select("patient_id", "event_time", "heart_rate_bpm")
        .groupBy("patient_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("event_time", "heart_rate_bpm"))
            ).alias("series")
        )
    )
    # fold the recursion as a running transform over the sorted series
    ewmas = F.aggregate(
        F.col("series"),
        F.expr("CAST(array() AS ARRAY<DOUBLE>)"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.when(
                    F.size(acc) == 0, x["heart_rate_bpm"].cast("double")
                ).otherwise(
                    F.lit(EWMA_ALPHA) * x["heart_rate_bpm"]
                    + F.lit(1 - EWMA_ALPHA) * F.element_at(acc, -1)
                )
            ),
        ),
    )
    return (
        rows.withColumn("ewma", ewmas)
        .select(
            "patient_id",
            F.posexplode(F.arrays_zip("series", "ewma")).alias("_i", "z"),
        )
        .select(
            "patient_id",
            F.col("z.series.event_time").alias("event_time"),
            F.col("z.series.heart_rate_bpm").alias("heart_rate_bpm"),
            F.col("z.ewma").alias("ewma_bpm"),
        )
    )


SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("patient_id", T.StringType()),
        T.StructField("session_start", T.LongType()),
        T.StructField("session_end", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("avg_bpm", T.DoubleType()),
    ]
)
SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_ms", T.LongType()),
        T.StructField("last_ms", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_bpm", T.DoubleType()),
    ]
)


def session_timeout_stream(parsed: DataFrame) -> DataFrame:
    """Custom gap-session operator with EVENT-TIME TIMEOUT: a key's
    session closes (and emits exactly one summary row) when the watermark
    passes its last event + a 30 s gap — i.e. the stream itself proves no more
    in-gap events can arrive. This is the timeout half of the GroupState
    API that `new_peak_stream` (NoTimeout) doesn't exercise, and the
    applyInPandasWithState twin of the built-in ``session_window`` agg
    (which `streaming/health_pipeline.py` uses): use the built-in when a
    plain aggregate per session suffices; use this shape when the
    per-session logic grows arbitrary (trajectories, model calls).

    Input must carry an `event_ts` watermark column (parse_events_df) —
    the caller sets `withWatermark` BEFORE grouping; state is O(open
    sessions) and every timed-out key removes its state, so the store
    cannot grow unboundedly."""
    ship_package(parsed.sparkSession)

    gap_ms = 30_000

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            start_ms, last_ms, n, sum_bpm = state.get
            state.remove()
            yield pd.DataFrame(
                [(key[0], start_ms, last_ms, n, sum_bpm / n)],
                columns=[
                    "patient_id",
                    "session_start",
                    "session_end",
                    "n_events",
                    "avg_bpm",
                ],
            )
            return
        start_ms, last_ms, n, sum_bpm = (
            state.get if state.exists else (None, None, 0, 0.0)
        )
        for pdf in pdfs:
            if not len(pdf):
                continue
            # events arriving within the gap extend the session; a larger
            # in-batch jump would normally split — kept simple here (split
            # logic is per-session code, the point of the escape hatch)
            # because the timeout handles the close. Batch folds to
            # min/max/count/sum — vectorized, no per-row loop.
            ts_min = int(pdf["event_time"].min())
            ts_max = int(pdf["event_time"].max())
            if start_ms is None:
                start_ms = ts_min
            last_ms = ts_max if last_ms is None else max(last_ms, ts_max)
            n += int(len(pdf))
            sum_bpm += float(pdf["heart_rate_bpm"].sum())
        state.update((start_ms, last_ms, n, sum_bpm))
        state.setTimeoutTimestamp(last_ms + gap_ms)
        return
        yield  # pragma: no cover — make fn a generator in the no-emit path

    return parsed.groupBy("patient_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def cogrouped_reconcile(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
) -> DataFrame:
    """Cogrouped-map escape hatch (`groupBy().cogroup().applyInPandas`):
    both sides of a key arrive as pandas frames in ONE Python call — the
    shape for per-key reconciliation logic that a join cannot express
    without exploding (e.g. order-dependent matching, per-key cutoffs).
    Here: per-key counts and the value-sum delta between the two sides,
    chosen so the result has an exact relational twin for the parity
    test. One co-shuffle on the key; each task sees only its keys'
    frames, so memory is bounded by the largest single key."""
    import pandas as pd

    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(left.sparkSession)

    def reconcile(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        k = l[key].iloc[0] if len(l) else r[key].iloc[0]
        return pd.DataFrame(
            {
                key: [int(k)],
                "n_left": [int(len(l))],
                "n_right": [int(len(r))],
                "value_delta": [
                    float((l["value"].sum() if len(l) else 0.0) - (r["value"].sum() if len(r) else 0.0))
                ],
            }
        )

    # Output key column is named after `key` (not hardcoded), so non-default
    # keys label and type the key column correctly.
    return (
        left.groupBy(key)
        .cogroup(right.groupBy(key))
        .applyInPandas(
            reconcile, f"{key} long, n_left long, n_right long, value_delta double"
        )
    )


CEP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("purchase_event_id", T.LongType()),
        T.StructField("view_ms", T.LongType()),
        T.StructField("purchase_ms", T.LongType()),
        T.StructField("gap_s", T.LongType()),
    ]
)
CEP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_view_ms", T.LongType()),
        T.StructField("last_purchase_ms", T.LongType()),
    ]
)


def cep_followed_by_stream(
    events: DataFrame, *, within_ms: int = 600_000
) -> DataFrame:
    """Streaming CEP "view followed-by purchase within T, no purchase
    between" — the live twin of `queries/cep.py:cep_followed_by` (which
    is the DuckDB-oracled batch form; FlinkCEP `begin('view')
    .followedBy('purchase').within(T)` is the reference-stack analog).

    GroupState carries exactly the NFA's live frontier: the newest view
    and newest purchase timestamp per user (two longs — O(keys) state,
    no buffered events). Per micro-batch the match test is vectorized:
    sorted ts + `ffill().shift(1)` on the kind-masked series reproduces
    "most recent strictly prior" for both event kinds (ffill, not
    cummax: cummax leaves NaN at every other-kind row, so shift(1)
    would blank rows whose immediate predecessor is the other kind),
    with carried state folded in via fillna/clip — no per-row Python
    loop. Cross-batch order follows stream time (at-least-once monitor
    semantics, same caveat as `new_peak_stream`).

    Input columns: user_id long, event_id long, ts_ms long,
    event_type string.
    """
    ship_package(events.sparkSession)

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        prev_view, prev_purch = state.get if state.exists else (None, None)
        frames = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            xs = pdf.sort_values(["ts_ms", "event_id"]).reset_index(drop=True)
            ts = xs["ts_ms"].astype("int64")

            def prior_max(kind: str, carry):
                # ffill (ts is sorted ascending, so ffill == running max of
                # the masked series) closes the NaN holes cummax would leave
                # at other-kind rows; shift(1) then means "strictly prior".
                s = ts.where(xs["event_type"] == kind).ffill().shift(1)
                if carry is not None:
                    s = s.fillna(float(carry)).clip(lower=float(carry))
                return s

            last_view = prior_max("view", prev_view)
            last_purch = prior_max("purchase", prev_purch)
            is_match = (
                (xs["event_type"] == "purchase")
                & last_view.notna()
                & (last_purch.isna() | (last_view > last_purch))
                & (ts - last_view <= within_ms)
            )
            if is_match.any():
                hit = xs[is_match.to_numpy()]
                lv = last_view[is_match.to_numpy()].astype("int64")
                frames.append(
                    pd.DataFrame(
                        {
                            "user_id": hit["user_id"].astype("int64").to_numpy(),
                            "purchase_event_id": hit["event_id"].astype("int64").to_numpy(),
                            "view_ms": lv.to_numpy(),
                            "purchase_ms": hit["ts_ms"].astype("int64").to_numpy(),
                            "gap_s": ((hit["ts_ms"].astype("int64") - lv) // 1000).to_numpy(),
                        }
                    )
                )
            batch_view = ts.where(xs["event_type"] == "view").max()
            batch_purch = ts.where(xs["event_type"] == "purchase").max()
            if pd.notna(batch_view):
                prev_view = (
                    int(batch_view)
                    if prev_view is None
                    else max(int(batch_view), prev_view)
                )
            if pd.notna(batch_purch):
                prev_purch = (
                    int(batch_purch)
                    if prev_purch is None
                    else max(int(batch_purch), prev_purch)
                )
        state.update((prev_view, prev_purch))
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=CEP_OUTPUT_SCHEMA,
        stateStructType=CEP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


BURST_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("alert_ms", T.LongType()),
        T.StructField("run_len", T.LongType()),
    ]
)
BURST_STATE_SCHEMA = T.StructType([T.StructField("open_run", T.LongType())])


def cep_error_burst_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of `queries/cep.py:cep_error_burst` (FlinkCEP
    `times(3).consecutive()`): alert ONCE per run, at the moment
    the run REACHES 3 consecutive 'error' events — state is a
    single long per key (the open trailing run length), vectorized per
    micro-batch with the same islands arithmetic as the batch query:
    cumsum of non-error markers ids the consecutive groups; carry-in
    extends the first group iff the batch starts mid-run. Input columns:
    user_id long, event_id long, ts_ms long, event_type string."""
    ship_package(events.sparkSession)

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        open_run = int(state.get[0]) if state.exists else 0
        frames = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            xs = pdf.sort_values(["ts_ms", "event_id"]).reset_index(drop=True)
            err = (xs["event_type"] == "error").to_numpy()
            import numpy as np

            grp = np.cumsum(~err)  # constant within a consecutive-error run
            # position within run (1..run_len on error rows, 0 elsewhere):
            # cumsum of the error indicator per group — a group also holds
            # its preceding non-error row, which contributes 0
            pos = (
                pd.Series(err.astype("int64")).groupby(grp).cumsum().to_numpy()
                * err
            )
            # carry extends the first group only if the batch STARTS with
            # an error (grp==grp[0] and err[0])
            if open_run and len(xs) and err[0]:
                pos = np.where((grp == grp[0]) & err, pos + open_run, pos)
            hit = err & (pos == 3)
            if hit.any():
                out = xs[hit]
                frames.append(
                    pd.DataFrame(
                        {
                            "user_id": out["user_id"].astype("int64").to_numpy(),
                            "alert_ms": out["ts_ms"].astype("int64").to_numpy(),
                            "run_len": 3,
                        }
                    )
                )
            # new open run = trailing consecutive errors (+ carry iff the
            # whole batch is one unbroken error run)
            if err[-1]:
                trailing = int(pos[-1])
            else:
                trailing = 0
            open_run = trailing
        state.update((open_run,))
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=BURST_OUTPUT_SCHEMA,
        stateStructType=BURST_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
