"""Time-series queries over `events`: gap-filled resampling and snapshot
diffing. Extends the reference's windowed-monitoring surface
(`/root/reference/src/flink_job.py:104-128`) with the batch time-series
ops a feature pipeline needs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.timeseries import (
    resample_forward_fill,
    snapshot_diff,
)
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.queries._shared import (
    DAILY_REV_SQL as _DAILY_REV_SQL,
    daily_regional_revenue,
)
from hw_kafka_flink_health_spark.sources.files import load_table


@register(
    "timeseries_gapfill",
    oracle="""
    WITH bucketed AS (
      SELECT user_id, date_trunc('day', ts) AS bucket_ts, avg(value) AS bucket_avg
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket_ts
      FROM (SELECT user_id, min(bucket_ts) AS lo, max(bucket_ts) AS hi
            FROM bucketed GROUP BY 1)
    ),
    j AS (
      SELECT s.user_id, s.bucket_ts, b.bucket_avg
      FROM spine s LEFT JOIN bucketed b USING (user_id, bucket_ts)
    )
    SELECT user_id,
           epoch_ms(bucket_ts) AS bucket_ms,
           round(bucket_avg, 4) AS bucket_avg,
           round(ff, 4) AS value_ffill,
           CAST(CASE WHEN bucket_avg IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
    FROM (
      SELECT user_id, bucket_ts, bucket_avg,
             last_value(bucket_avg IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff
      FROM j
    )
    """,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user daily grid with forward fill — the resample step
    between raw events and an ML feature matrix (which can't have holes).
    Value-hash-checked against DuckDB generate_series + IGNORE NULLS
    last_value."""
    events = load_table(spark, sf_dir, "events")
    ff = resample_forward_fill(events, "user_id", "ts", "value")
    return ff.select(
        "user_id",
        F.unix_millis(F.col("bucket_ts").cast("timestamp")).alias("bucket_ms"),
        F.round("bucket_avg", 4).alias("bucket_avg"),
        F.round("value_ffill", 4).alias("value_ffill"),
        F.col("is_gap").cast("bigint").alias("is_gap"),
    )


@register(
    "snapshot_diff_orders",
    oracle="""
    WITH old_s AS (
      SELECT * FROM orders WHERE o_orderkey % 97 <> 0
    ),
    new_s AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 50 = 0
                  THEN round(o_totalprice * 1.1, 2)
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 89 <> 0
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_totalprice <> n.o_totalprice THEN 'changed'
           END AS status
    FROM old_s o FULL OUTER JOIN new_s n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice <> n.o_totalprice
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two simulated snapshots of `orders`: rows only in the
    new snapshot are 'added', rows only in the old are 'removed', rows
    whose payload hash differs are 'changed' (a deterministic 10% price
    restatement). The diff joins on (key, md5-of-payload) so no payload
    column crosses the shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 97 != 0)
    new = orders.filter(F.col("o_orderkey") % 89 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 50 == 0,
            F.round(F.col("o_totalprice") * 1.1, 2),
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, ["o_orderkey"])


@register(
    "sessionize_events",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM g
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(count(*) AS BIGINT) AS n_events,
           epoch_ms(min(ts)) AS session_start_ms,
           CAST(floor((epoch_ms(max(ts)) - epoch_ms(min(ts))) / 1000.0) AS BIGINT) AS duration_s
    FROM s GROUP BY user_id, session_no
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with a 30-minute inactivity gap — the
    lag/flag/cumsum formulation (the analytic-window twin of the
    streaming `session_window` query, which Spark can't run in batch
    over historic data with per-session aggregates this cheaply). One
    shuffle on user_id serves both window passes and the final
    per-session aggregate."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    lag_ms = F.lag(epoch_ms).over(w)
    is_new = F.when(
        lag_ms.isNull() | ((epoch_ms - lag_ms) > 1800000), F.lit(1)
    ).otherwise(F.lit(0))
    sess = ev.withColumn("is_new", is_new).withColumn(
        "session_no",
        F.sum("is_new").over(
            # event_id tie-break matches the lag window above: a ROWS
            # frame over a ts-only order is nondeterministic for rows
            # sharing a timestamp, and both engines must walk the same
            # order for session boundaries to line up.
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", F.col("session_no").cast("bigint").alias("session_no")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.unix_millis(F.min("ts").cast("timestamp")).alias("session_start_ms"),
        F.floor(
            (
                F.unix_millis(F.max("ts").cast("timestamp"))
                - F.unix_millis(F.min("ts").cast("timestamp"))
            )
            / 1000.0
        )
        .cast("bigint")
        .alias("duration_s"),
    )


@register(
    "rolling_window_features",
    oracle="""
    SELECT user_id, epoch_ms(ts) AS ts_ms,
           floor(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) OVER w
                 / 1000000.0 / (count(*) OVER w) * 10000.0 + 0.5) / 10000.0
             AS avg_7d,
           CAST(count(*) OVER w AS BIGINT) AS n_7d,
           round(max(value) OVER w, 4) AS max_7d
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                 RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day per-user features (avg/count/max) at every event —
    the point-in-time-correct feature-engineering pattern (no leakage:
    the frame ends at CURRENT ROW). RANGE frame over exact epoch milliseconds is
    engine-portable (fractional-second epoch() would round differently); one shuffle on user_id, one sort, three aggregates
    share the frame."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    epoch_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_ms)
        .rangeBetween(-604800000, Window.currentRow)
    )
    # avg via an EXACT integer sum of floor(value * 1e6) micro-units:
    # windowed double-summation order differs between engines (segment
    # tree vs running sum) and its jitter lands on round()'s boundary for
    # a handful of rows; double->decimal conversion rounding ALSO differs
    # per engine. floor(x * 1e6) is the same double op everywhere, and
    # integer addition is associative, so both engines see identical sums
    n7 = F.count(F.lit(1)).over(w)
    dsum = F.sum(F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")).over(w)
    return ev.select(
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        (F.floor(dsum / F.lit(1000000.0) / n7 * 10000.0 + 0.5) / 10000.0).alias("avg_7d"),
        n7.cast("bigint").alias("n_7d"),
        F.round(F.max("value").over(w), 4).alias("max_7d"),
    )


@register(
    "events_ewma",
    oracle="""
    WITH r AS (
      SELECT user_id, ts, event_id, value,
             row_number() OVER w AS rn,
             first_value(value) OVER w AS x1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), o AS (
      SELECT user_id, ts, value, rn, x1,
             sum(value * power(1.25, rn)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM r
    )
    SELECT user_id, epoch_ms(ts) AS ts_ms,
           floor((power(0.8, rn - 1) * x1
                  + 0.2 * power(0.8, rn) * (s - x1 * 1.25)) * 1000.0 + 0.5)
             / 1000.0 AS ewma_value
    FROM o
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (alpha 0.2) of `value` per user at every event, closed form:
    e_n = b^(n-1)x_1 + a*b^n*(S_n - u_1) with u_i = x_i*b^(-i) — the
    recursion as THREE window passes sharing one shuffle (row_number,
    first_value, running sum), no state, no Python. The streaming
    recursion itself lives in operators/stateful.py:ewma_stream (state
    store) whose batch fold twin is pinned in tests; this query proves
    the window-algebra form against the oracle. b^(-i) grows
    exponentially — fine for per-key series up to ~1e3 rows (here ~70);
    longer series need the fold or stateful form.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rn = F.row_number().over(w)
    x1 = F.first("value").over(w)
    s = F.sum(F.col("value") * F.pow(F.lit(1.25), rn)).over(frame)
    ewma = (
        F.pow(F.lit(0.8), rn - 1) * x1
        + F.lit(0.2) * F.pow(F.lit(0.8), rn) * (s - x1 * F.lit(1.25))
    )
    return ev.select(
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        (F.floor(ewma * 1000.0 + 0.5) / 1000.0).alias("ewma_value"),
    )


@register(
    "events_anomaly_mad",
    oracle="""
    WITH m AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ), d AS (
      SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
      FROM events e JOIN m USING (event_type)
    ), s AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad,
             any_value(med) AS med
      FROM d GROUP BY 1
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(any_value(s.med), 4) AS med,
           round(any_value(s.mad), 4) AS mad,
           CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * s.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM d JOIN s USING (event_type)
    GROUP BY 1
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly census per event type: median absolute deviation
    (MAD) with the 1.4826 normal-consistency constant — the outlier
    detector that, unlike z-scores, is not itself dragged by the
    outliers it hunts. Exact interpolated percentiles (Spark
    `percentile` == DuckDB `quantile_cont`) so both engines agree; two
    tiny per-type aggregate tables broadcast back onto the fact rows, so
    the events table is scanned twice and shuffled never. At 100 TB
    swap `percentile` for `approx_percentile` and keep the shape."""
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad"),
        F.first("med").alias("med"),
    )
    return (
        dev.drop("med")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.first("med"), 4).alias("med"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.sum(
                F.when(
                    F.col("adev") > 3 * 1.4826 * F.col("mad"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


@register(
    "events_seasonal_anomaly",
    oracle="""
    WITH prof AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hod,
             avg(value) AS mu,
             stddev_samp(value) AS sd,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), scored AS (
      SELECT e.event_id, e.event_type,
             CAST(EXTRACT(hour FROM e.ts) AS BIGINT) AS hod,
             round((e.value - p.mu) / p.sd, 4) AS season_z
      FROM events e JOIN prof p
        ON e.event_type = p.event_type AND EXTRACT(hour FROM e.ts) = p.hod
      WHERE p.sd > 0 AND p.n >= 30
    )
    SELECT event_id, event_type, hod, season_z
    FROM scored WHERE abs(season_z) >= 3
    """,
)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection: build an (event_type x
    hour-of-day) seasonal profile (mean/stddev), then flag events 3+
    sigma from THEIR OWN hour's baseline — the deseasonalized screen that
    stops a nightly-low/daily-peak cycle from drowning real anomalies.
    The profile is a tiny aggregate (types x 24 rows) broadcast back onto
    the fact scan, so the fact table is read once and never shuffled;
    thin cells (n < 30) are excluded from scoring rather than producing
    noisy z-scores."""
    ev = load_table(spark, sf_dir, "events")
    hod = F.hour("ts")
    prof = ev.groupBy(F.col("event_type").alias("p_type"), hod.alias("p_hod")).agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sd"),
        F.count(F.lit(1)).alias("n"),
    )
    scored = ev.join(
        F.broadcast(prof),
        (F.col("event_type") == F.col("p_type")) & (hod == F.col("p_hod")),
    ).filter((F.col("sd") > 0) & (F.col("n") >= 30))
    z = F.round((F.col("value") - F.col("mu")) / F.col("sd"), 4)
    return (
        scored.select(
            "event_id",
            "event_type",
            hod.cast("bigint").alias("hod"),
            z.alias("season_z"),
        )
        .filter(F.abs(F.col("season_z")) >= 3)
    )


@register(
    "session_windows_dynamic_gap",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms,
             CASE WHEN event_type = 'view' THEN 30000 ELSE 60000 END AS gap_ms,
             event_id
      FROM events
    ), m AS (
      SELECT user_id, ts_ms, gap_ms, event_id,
             max(ts_ms + gap_ms) OVER (
               PARTITION BY user_id ORDER BY ts_ms, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_reach
      FROM e
    ), f AS (
      SELECT user_id, ts_ms, gap_ms, event_id,
             CASE WHEN prev_reach IS NULL OR ts_ms >= prev_reach THEN 1 ELSE 0 END AS new_sess
      FROM m
    ), g AS (
      SELECT user_id, ts_ms, gap_ms,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM f
    )
    SELECT user_id,
           CAST(min(ts_ms) AS BIGINT) AS session_start_ms,
           CAST(max(ts_ms + gap_ms) AS BIGINT) AS session_end_ms,
           CAST(count(*) AS BIGINT) AS n_events
    FROM g GROUP BY user_id, sess_id
    """,
)
def session_windows_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows with a DYNAMIC per-event gap ('view' events
    keep sessions alive 30 s, everything else 60 s) — the
    activity-dependent timeout real clickstream sessionization uses.
    Spark's session_window merges events whose [ts, ts+gap) reaches
    overlap; the oracle replays the same islands logic with a cumulative
    reach-max window. Same one-shuffle shape as fixed-gap sessions; the
    merge happens inside the aggregation operator."""
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "view", "30 seconds").otherwise("60 seconds")
    return (
        ev.groupBy(F.session_window(F.col("ts"), gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("sw.start").cast("timestamp")).alias("session_start_ms"),
            F.unix_millis(F.col("sw.end").cast("timestamp")).alias("session_end_ms"),
            "n_events",
        )
    )


@register(
    "events_level_shift",
    oracle="""
    WITH w AS (
      SELECT user_id, ts, event_id,
             avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS before_avg,
             avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS after_avg,
             count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS n_before,
             count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS n_after
      FROM events
    ), full_w AS (
      SELECT user_id, ts, event_id,
             round(abs(after_avg - before_avg), 4) AS shift
      FROM w WHERE n_before = 5 AND n_after = 5
    ), ranked AS (
      SELECT user_id, epoch_ms(ts) AS shift_at_ms, shift,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY shift DESC, ts, event_id) AS rn
      FROM full_w
    )
    SELECT user_id, shift_at_ms, shift FROM ranked WHERE rn = 1
    """,
)
def events_level_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift (changepoint) detection per user: at every event,
    compare the trailing-5 average against the leading-5 average and
    report the point of maximum jump — the window-algebra changepoint
    screen (a CUSUM's recursive state can't be a window; this two-sided
    contrast can). All four frames and the final argmax share ONE
    exchange+sort on user_id; edge points without full windows are
    excluded so the contrast is always 5-vs-5."""
    ev = load_table(spark, sf_dir, "events")
    order = [F.col("ts"), F.col("event_id")]
    base = Window.partitionBy("user_id").orderBy(*order)
    before = base.rowsBetween(-5, -1)
    after = base.rowsBetween(0, 4)
    w = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.avg("value").over(before).alias("before_avg"),
        F.avg("value").over(after).alias("after_avg"),
        F.count(F.lit(1)).over(before).alias("n_before"),
        F.count(F.lit(1)).over(after).alias("n_after"),
    ).filter((F.col("n_before") == 5) & (F.col("n_after") == 5))
    contrast = w.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.abs(F.col("after_avg") - F.col("before_avg")), 4).alias("shift"),
    )
    ranked = contrast.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.desc("shift"), *order)
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("shift_at_ms"),
        "shift",
    )


@register(
    "events_inter_arrival",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)) AS gap_ms
      FROM events
    )
    SELECT user_id,
           CAST(count(gap_ms) AS BIGINT) AS n_gaps,
           CAST(min(gap_ms) AS BIGINT) AS min_gap_ms,
           CAST(max(gap_ms) AS BIGINT) AS max_gap_ms,
           round(avg(gap_ms), 4) AS avg_gap_ms,
           round(stddev_samp(gap_ms), 4) AS sd_gap_ms
    FROM gaps WHERE gap_ms IS NOT NULL
    GROUP BY user_id
    """,
)
def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile per user (burstiness fingerprint): lag
    the event stream per key, aggregate the gap distribution — the
    cadence stats that size streaming watermarks and session gaps
    (sd >> avg means bursty traffic needs a dynamic gap, see
    session_windows_dynamic_gap). One exchange on user_id shared by the
    lag window and the aggregation."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gaps = ev.select(
        "user_id", (ms - F.lag(ms).over(w)).alias("gap_ms")
    ).filter(F.col("gap_ms").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("gap_ms").cast("bigint").alias("n_gaps"),
        F.min("gap_ms").cast("bigint").alias("min_gap_ms"),
        F.max("gap_ms").cast("bigint").alias("max_gap_ms"),
        F.round(F.avg("gap_ms"), 4).alias("avg_gap_ms"),
        F.round(F.stddev_samp("gap_ms"), 4).alias("sd_gap_ms"),
    )


@register(
    "forecast_seasonal_naive_backtest",
    oracle="""
    WITH h AS (
      SELECT user_id, date_trunc('hour', ts) AS hr,
             round(avg(value), 6) AS v
      FROM events GROUP BY 1, 2
    ), j AS (
      SELECT cur.user_id, cur.v AS actual, prev.v AS forecast
      FROM h cur JOIN h prev
        ON cur.user_id = prev.user_id
       AND prev.hr = cur.hr - INTERVAL 24 HOURS
      WHERE cur.v <> 0
    )
    SELECT user_id,
           count(*)::BIGINT AS n_points,
           round(avg(abs(actual - forecast) / abs(actual)) * 100, 4) AS mape_pct
    FROM j GROUP BY user_id
    """,
)
def forecast_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting harness with the seasonal-naive baseline
    (forecast(t) = value(t - 24h)): per-user MAPE over every hour that
    has a day-earlier twin. Any real forecasting model must beat this
    number — computing it IS the first step of forecast evaluation at
    scale. One hourly pre-aggregate (map-side combined), then an equi
    self-join on (user, hour-24h) — the pre-agg is tiny relative to raw
    events, so the join never touches the fact table twice. Hourly
    averages are rounded to 6 dp BEFORE the ratio in both engines so the
    MAPE hash matches despite float division."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    cur, prev = h.alias("cur"), h.alias("prev")
    j = cur.join(
        prev,
        (F.col("cur.user_id") == F.col("prev.user_id"))
        & (F.col("prev.hr") == F.col("cur.hr") - F.expr("INTERVAL 24 HOURS")),
    ).select(
        F.col("cur.user_id").alias("user_id"),
        F.col("cur.v").alias("actual"),
        F.col("prev.v").alias("forecast"),
    ).filter(F.col("actual") != 0)
    return j.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.round(
            F.avg(F.abs(F.col("actual") - F.col("forecast")) / F.abs(F.col("actual")))
            * 100,
            4,
        ).alias("mape_pct"),
    )


@register(
    "session_bounce_rate",
    oracle="""
    WITH x AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000 THEN 1
                  WHEN lag(epoch_ms(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
                  ELSE 0 END AS new_sess
      FROM events
    ), s AS (
      SELECT user_id, ts_ms,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM x
    ), sess AS (
      SELECT user_id, sess_id,
             CAST(floor(min(ts_ms) / 86400000.0) AS BIGINT) AS day,
             count(*)::BIGINT AS n_events
      FROM s GROUP BY 1, 2
    )
    SELECT day,
           count(*)::BIGINT AS n_sessions,
           sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounces,
           round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS bounce_rate
    FROM sess GROUP BY day
    """,
)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions (30-min gap) that contain a
    single event — the standard engagement metric, computed on the same
    sessionization the concurrency sweep uses. One exchange on user for
    the gap windows; the per-day rollup is a second tiny aggregate over
    one row per session."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    x = ev.select(
        "user_id",
        ts_ms.alias("ts_ms"),
        F.when(ts_ms - F.lag(ts_ms).over(wu) > 1800000, 1)
        .when(F.lag(ts_ms).over(wu).isNull(), 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    s = x.withColumn(
        "sess_id",
        F.sum("new_sess").over(
            Window.partitionBy("user_id")
            .orderBy("ts_ms")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    sess = s.groupBy("user_id", "sess_id").agg(
        F.floor(F.min("ts_ms") / 86400000.0).cast("long").alias("day"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return sess.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("bounce_rate"),
    )


@register(
    "timeseries_ohlc_vwap",
    oracle="""
    WITH priced AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS bar_month,
             l_extendedprice / l_quantity AS unit_price,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents,
             CAST(l_quantity AS BIGINT) AS qty,
             row_number() OVER (
               PARTITION BY date_trunc('month', l_shipdate)
               ORDER BY l_shipdate, l_orderkey, l_linenumber
             ) AS rn_a,
             row_number() OVER (
               PARTITION BY date_trunc('month', l_shipdate)
               ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC
             ) AS rn_d
      FROM lineitem
      WHERE l_quantity > 0 AND l_shipdate IS NOT NULL
    )
    SELECT bar_month,
           round(max(CASE WHEN rn_a = 1 THEN unit_price END), 6) AS open,
           round(max(unit_price), 6) AS high,
           round(min(unit_price), 6) AS low,
           round(max(CASE WHEN rn_d = 1 THEN unit_price END), 6) AS close,
           sum(qty)::BIGINT AS volume,
           count(*)::BIGINT AS n_trades,
           round(sum(price_cents) / 100.0 / sum(qty), 6) AS vwap
    FROM priced
    GROUP BY bar_month
    """,
)
def timeseries_ohlc_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly OHLC bars + volume-weighted average price over line items
    (unit price = extended price / quantity, volume = quantity) — the
    canonical time-series downsample every market/telemetry pipeline
    runs. Determinism at scale: open/close are min_by/max_by over a
    TOTAL order (shipdate, orderkey, linenumber) so ties cannot flip the
    bar across engines or retries; the VWAP numerator is summed in EXACT
    integer cents (doubles with two decimals are inexact and their sum is
    order-dependent across 32 partitions — integers are not), with ONE
    double division at the end. Everything is ONE map-side-combined hash
    aggregate — no per-bar sort anywhere (the oracle's row_number
    formulation sorts every bar; at 100 TB a bar holds billions of rows
    and that sort would BE the job)."""
    # l_shipdate orders the open/close windows — a nullable window sort
    # key flakes in DuckDB (registry convention); unshipped lines have
    # no bar anyway
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & F.col("l_shipdate").isNotNull()
    )
    month = F.date_trunc("month", F.col("l_shipdate"))
    # total order within the bar: (shipdate, orderkey, linenumber)
    okey = F.struct("l_shipdate", "l_orderkey", "l_linenumber")
    priced = li.select(
        month.alias("bar_month"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
        okey.alias("okey"),
    )
    # min_by/max_by over the total-order struct: open/close come out of
    # the same HASH aggregate as everything else — one shuffle, NO
    # per-partition sort (the oracle's row_number formulation would sort
    # every bar; at 100 TB a bar holds billions of rows and the sort IS
    # the job). Deterministic because okey is a total order.
    return priced.groupBy("bar_month").agg(
        F.round(F.min_by("unit_price", F.col("okey")), 6).alias("open"),
        F.round(F.max("unit_price"), 6).alias("high"),
        F.round(F.min("unit_price"), 6).alias("low"),
        F.round(F.max_by("unit_price", F.col("okey")), 6).alias("close"),
        F.sum("qty").cast("long").alias("volume"),
        F.count(F.lit(1)).cast("long").alias("n_trades"),
        F.round(F.sum("price_cents") / 100.0 / F.sum("qty"), 6).alias("vwap"),
    )


@register(
    "events_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             count(*)::BIGINT AS c
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type,
             sum(c)::BIGINT AS total, count(*)::BIGINT AS n_days
      FROM daily GROUP BY 1
    ), cusum AS (
      -- deviations scaled by n_days stay EXACT integers:
      -- dev_i = c_i*n - total  (n * (c_i - mean))
      SELECT d.event_type, d.day, s.n_days,
             sum(d.c * s.n_days - s.total) OVER (
               PARTITION BY d.event_type
               ORDER BY d.day ROWS UNBOUNDED PRECEDING
             )::BIGINT AS cu
      FROM daily d JOIN stats s USING (event_type)
    ), ranked AS (
      SELECT event_type, day, n_days, cu,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(cu) DESC, day) AS rn
      FROM cusum
    )
    SELECT event_type, epoch_ms(day) AS change_day_ms, n_days,
           cu AS cusum_scaled, abs(cu) AS cusum_abs
    FROM ranked WHERE rn = 1
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the day where the
    cumulative deviation of daily volume from the series mean peaks —
    the classic single-changepoint locator for level shifts in
    monitoring pipelines (the running-windows `events_level_shift` is
    its local-contrast sibling; CUSUM finds the GLOBAL break). The
    deviations are scaled by n_days (dev = c*n - total) so the running
    sum is exact integer arithmetic end to end — no float drift over a
    100 TB-long series and nothing for engines to disagree on. One
    shuffle to daily counts, a broadcast-sized per-type stats join, and
    both windows ride one event_type exchange; argmax ties break to the
    earliest day deterministically."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    stats = daily.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cusum = daily.join(stats, "event_type").select(
        "event_type",
        "day",
        "n_days",
        F.sum(F.col("c") * F.col("n_days") - F.col("total"))
        .over(wcum)
        .cast("long")
        .alias("cu"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cu")).desc(), F.col("day")
    )
    return (
        cusum.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.unix_millis(F.col("day").cast("timestamp")).alias("change_day_ms"),
            "n_days",
            F.col("cu").alias("cusum_scaled"),
            F.abs(F.col("cu")).alias("cusum_abs"),
        )
    )


@register(
    "window_range_interval_frame",
    oracle="""
    SELECT event_id,
           user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
           (count(*) OVER w)::BIGINT AS cnt_1h,
           round(avg(value) OVER w, 4) AS avg_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-one-hour event count and mean value per user via a RANGE
    (value-bounded) window frame — the frame every ROWS-based rolling
    query gets WRONG on irregular event spacing (ROWS n PRECEDING counts
    events, not time). RANGE on epoch seconds bounds the frame by
    timestamp distance, so each row sees exactly the events in
    [ts-3600s, ts].

    One exchange on user_id + one per-partition sort; Spark evaluates the
    value frame with a sliding two-pointer pass over the sorted run — no
    self-join, no explode, O(rows) per partition amortized. Epoch is
    FLOORED to whole seconds on both engines (sub-second timestamps would
    otherwise diverge: Spark's long cast truncates, DuckDB's epoch()
    keeps the fraction); RANGE includes all peers of the boundary second
    identically in both."""
    ev = load_table(spark, sf_dir, "events")
    # TIMESTAMP_NTZ has no direct long cast in Spark 4; hop through
    # TIMESTAMP (session is pinned UTC, so NTZ wall time == UTC instant,
    # matching DuckDB's naive epoch()).
    ts_s = F.col("ts").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_s)
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        ts_s.alias("ts_s"),
        F.count(F.lit(1)).over(w).cast("long").alias("cnt_1h"),
        F.round(F.avg("value").over(w), 4).alias("avg_1h"),
    )


@register(
    "orders_drawdown_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    cums AS (
      SELECT day, revenue, sum(revenue) OVER (ORDER BY day) AS cum
      FROM daily
    ),
    run AS (
      SELECT day, revenue, cum, max(cum) OVER (ORDER BY day) AS peak
      FROM cums
    )
    SELECT day, revenue,
           round(cum, 2) AS cum_revenue,
           round(peak - cum, 2) AS drawdown,
           round((peak - cum) / nullif(peak, 0), 6) AS drawdown_frac
    FROM run
    """,
)
def orders_drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running peak-to-current drawdown of cumulative daily revenue — the
    standard monitoring curve for any cumulative KPI (revenue, tokens
    ingested, rows committed).

    Shuffle budget: one hash aggregate to days, then ordered windows over
    the DAY table (~2.4k rows regardless of fact size — the unpartitioned
    sort is over the aggregate, never the raw rows, so 100 TB of orders
    still reduces to the same tiny series). The cumulative sum runs over
    the ROUNDED daily revenue so both engines add identical values in
    identical order — bitwise-deterministic doubles, no summation-order
    jitter for the hash to trip on. try_divide/nullif guard the
    peak-zero degenerate (all-negative or empty fuzz data)."""
    # NULL order dates out: the NULL day group becomes a window sort
    # key, and DuckDB's parallel window places a NULL key
    # NONDETERMINISTICALLY (three distinct outputs observed on identical
    # data — the round-9 flake hunt's root cause)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    run = daily.select(
        "day",
        "revenue",
        F.sum("revenue").over(wc).alias("cum"),
    ).withColumn("peak", F.max("cum").over(wc))
    return run.select(
        "day",
        "revenue",
        F.round("cum", 2).alias("cum_revenue"),
        F.round(F.col("peak") - F.col("cum"), 2).alias("drawdown"),
        F.round(F.try_divide(F.col("peak") - F.col("cum"), F.col("peak")), 6).alias(
            "drawdown_frac"
        ),
    )


_ACF_LAGS = 7


@register(
    "timeseries_acf_lags",
    oracle=f"""
    WITH series AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
             row_number() OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL
    ), lags AS (
      SELECT unnest(generate_series(1, {_ACF_LAGS})) AS k
    ), pairs AS (
      SELECT a.event_type, l.k, a.v AS av, b.v AS bv
      FROM series a
      CROSS JOIN lags l
      JOIN series b
        ON b.event_type IS NOT DISTINCT FROM a.event_type
       AND b.rn = a.rn + l.k
    ), sums AS (
      SELECT event_type, k,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(av) AS BIGINT) AS sa,
             CAST(sum(bv) AS BIGINT) AS sb,
             CAST(sum(av * av) AS BIGINT) AS saa,
             CAST(sum(bv * bv) AS BIGINT) AS sbb,
             CAST(sum(av * bv) AS BIGINT) AS sab
      FROM pairs GROUP BY event_type, k
    )
    SELECT event_type, CAST(k AS BIGINT) AS lag, n,
           (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
            - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
           / nullif(sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                            - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 0)
             AS acf
    FROM sums
    """,
)
def timeseries_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function at lags 1..7 per event-type series
    (Pearson over the (x_t, x_{{t+k}}) pairs) — the seasonality/memory
    fingerprint read before picking any forecasting model; extends
    `autocorr_user_lag1` from one lag to the profile.

    The Spark plan computes all 7 lags in a SINGLE window pass (7 lag()
    expressions share one sort within the event_type partition), then
    explodes to (lag, a, b) pairs — no self-join, the series is sorted
    exactly once regardless of how many lags are asked for. The oracle
    states the same semantics as a rn = rn+k self-join, which is the
    slow-but-obvious form; values are identical because each side
    reduces pairs to six exact BIGINT sums and assembles Pearson r in
    DOUBLE with the identical expression text (products cast to double
    BEFORE multiplying so nothing overflows int64 at any SF)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    v = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    # one window pass: the current value plus all 7 lagged copies
    lagged = ev.select(
        "event_type",
        v.alias("bv"),
        *[F.lag(v, k).over(w).alias(f"a{k}") for k in range(1, _ACF_LAGS + 1)],
    )
    pairs = (
        lagged.select(
            "event_type",
            "bv",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("bigint").alias("k"),
                            F.col(f"a{k}").alias("av"),
                        )
                        for k in range(1, _ACF_LAGS + 1)
                    ]
                )
            ).alias("p"),
        )
        .select("event_type", F.col("p.k").alias("k"), F.col("p.av").alias("av"), "bv")
        .filter(F.col("av").isNotNull())
    )
    sums = pairs.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("av").cast("bigint").alias("sa"),
        F.sum("bv").cast("bigint").alias("sb"),
        F.sum(F.col("av") * F.col("av")).cast("bigint").alias("saa"),
        F.sum(F.col("bv") * F.col("bv")).cast("bigint").alias("sbb"),
        F.sum(F.col("av") * F.col("bv")).cast("bigint").alias("sab"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sab") - d("sa") * d("sb")
    den = F.sqrt(
        (d("n") * d("saa") - d("sa") * d("sa"))
        * (d("n") * d("sbb") - d("sb") * d("sb"))
    )
    return sums.select(
        "event_type",
        F.col("k").alias("lag"),
        "n",
        (num / F.nullif(den, F.lit(0.0))).alias("acf"),
    )


# SAX breakpoints for a 4-symbol alphabet: N(0,1) quartiles, pinned as
# literals so both engines compare against identical doubles.
_SAX_B = 0.6744897501960817


@register(
    "timeseries_sax_words",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      GROUP BY event_type, date_trunc('day', ts)
    ), stats AS (
      SELECT event_type, day, x,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS s,
             CAST(sum(x * x) OVER (PARTITION BY event_type) AS BIGINT) AS ss
      FROM daily
    ), symbols AS (
      SELECT event_type, day, n,
             CASE
               WHEN n * ss - s * s = 0 THEN 'b'
               WHEN CAST(n * x - s AS DOUBLE)
                    < -{_SAX_B!r} * sqrt(CAST(n * ss - s * s AS DOUBLE))
                 THEN 'a'
               WHEN n * x - s < 0 THEN 'b'
               WHEN CAST(n * x - s AS DOUBLE)
                    < {_SAX_B!r} * sqrt(CAST(n * ss - s * s AS DOUBLE))
                 THEN 'c'
               ELSE 'd'
             END AS sym
      FROM stats
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_days,
           string_agg(sym, '' ORDER BY day) AS sax_word
    FROM symbols GROUP BY event_type
    """,
)
def timeseries_sax_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic discretization of each event-type's daily-total
    series: z-normalize within the series, map each day to one of four
    symbols at the N(0,1) quartile breakpoints, and emit the series as a
    compact word — the classic preprocessing for motif discovery /
    similarity search over time series at scale.

    Exactness without floating z-scores: the comparison
    (x-mu)/sigma < b is algebraically n*x - S < b*sqrt(n*SS - S^2), so
    symbols come from comparing an exact BIGINT against
    literal-breakpoint x sqrt(exact BIGINT) — sqrt is IEEE
    correctly-rounded, so both engines pick identical symbols; the
    zero-variance series degenerates to all-'b' by an explicit integer
    guard, not a NaN. Scale shape: one (type, day) hash aggregate over
    raw events, window stats over the tiny daily relation, ordered
    string_agg per type."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).cast("bigint").alias("x"))
    wt = Window.partitionBy("event_type")
    stats = daily.select(
        "event_type",
        "day",
        "x",
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n"),
        F.sum("x").over(wt).cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(wt).cast("bigint").alias("ss"),
    )
    var_i = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    diff_i = F.col("n") * F.col("x") - F.col("s")
    rhs = F.sqrt(var_i.cast("double"))
    sym = (
        F.when(var_i == 0, "b")
        .when(diff_i.cast("double") < F.lit(-_SAX_B) * rhs, "a")
        .when(diff_i < 0, "b")
        .when(diff_i.cast("double") < F.lit(_SAX_B) * rhs, "c")
        .otherwise("d")
    )
    symbols = stats.select("event_type", "day", "n", sym.alias("sym"))
    return symbols.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "sym"))),
                lambda st: st.getField("sym"),
            ),
            "",
        ).alias("sax_word"),
    )


@register(
    "timeseries_ma_decomposition",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
      GROUP BY 1
    ), w AS (
      SELECT d, cents,
             CAST(sum(cents) OVER (ORDER BY d
               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS trend7,
             CAST(count(*) OVER (ORDER BY d
               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS cntw,
             CAST((d + 3) % 7 AS BIGINT) AS dow
      FROM daily
    ), dev AS (
      SELECT d, cents, dow,
             CASE WHEN cntw = 7 THEN trend7 END AS trend7,
             CASE WHEN cntw = 7 THEN 7 * cents - trend7 END AS dev7
      FROM w
    ), seas AS (
      SELECT dow,
             CAST(sum(dev7) AS DOUBLE) / (7.0 * count(dev7)) AS seasonal_cents
      FROM dev WHERE dev7 IS NOT NULL GROUP BY dow
    )
    SELECT v.d * 86400000 AS day_ms, v.cents AS rev_cents, v.dow,
           CAST(v.trend7 AS DOUBLE) / 7.0 AS trend_cents,
           s.seasonal_cents,
           CASE WHEN v.trend7 IS NOT NULL AND s.seasonal_cents IS NOT NULL
                THEN CAST(v.dev7 AS DOUBLE) / 7.0 - s.seasonal_cents
                END AS resid_cents
    FROM dev v LEFT JOIN seas s ON v.dow = s.dow
    """,
)
def timeseries_ma_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily revenue:
    trend = centered 7-day moving average (only where the date-RANGE
    frame holds a full 7 observed days — gaps make the edge days
    honestly NULL), weekly seasonal index = per-weekday mean deviation,
    remainder = series - trend - seasonal. Exactness: the series is
    integer cents, and every windowed sum stays scaled by 7 (dev7 =
    7*cents - trend7) so all cross-row aggregation happens on exact
    BIGINTs; the only doubles are final divisions of identical operands.
    Weekday comes from epoch-day arithmetic ((d+3)%7, Monday=0), not
    engine dayofweek conventions. Shape: one hash aggregate to the
    per-day table, then every window/join runs on |days| rows — at
    100 TB the decomposition layer is thousands of rows regardless of
    fact size, and the RANGE frame needs one ordered pass."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        # price filter matches the oracle: an all-NULL-price day would
        # carry cents = NULL into the RANGE windows (review finding —
        # the oracle gained the guard, this side must mirror it)
        orders.filter(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("d")
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wr = Window.orderBy("d").rangeBetween(-3, 3)
    w = daily.select(
        "d",
        "cents",
        F.sum("cents").over(wr).cast("long").alias("trend7"),
        F.count(F.lit(1)).over(wr).cast("long").alias("cntw"),
        ((F.col("d") + 3) % 7).cast("long").alias("dow"),
    )
    dev = w.select(
        "d",
        "cents",
        "dow",
        F.when(F.col("cntw") == 7, F.col("trend7")).alias("trend7"),
        F.when(F.col("cntw") == 7, 7 * F.col("cents") - F.col("trend7")).alias(
            "dev7"
        ),
    )
    seas = (
        dev.filter(F.col("dev7").isNotNull())
        .groupBy("dow")
        .agg(
            (
                F.sum("dev7").cast("double")
                / (F.lit(7.0) * F.count("dev7"))
            ).alias("seasonal_cents")
        )
    )
    return dev.join(F.broadcast(seas), "dow", "left").select(
        (F.col("d") * 86400000).alias("day_ms"),
        F.col("cents").alias("rev_cents"),
        "dow",
        (F.col("trend7").cast("double") / 7.0).alias("trend_cents"),
        "seasonal_cents",
        F.when(
            F.col("trend7").isNotNull() & F.col("seasonal_cents").isNotNull(),
            F.col("dev7").cast("double") / 7.0 - F.col("seasonal_cents"),
        ).alias("resid_cents"),
    )


@register(
    "events_error_mtbf",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS ms
      FROM events
      WHERE event_type = 'error' AND user_id IS NOT NULL AND ts IS NOT NULL
    ), g AS (
      SELECT user_id,
             ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS gap
      FROM e
    )
    SELECT user_id,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           CAST(min(gap) AS BIGINT) AS min_gap_ms,
           CAST(max(gap) AS BIGINT) AS max_gap_ms,
           CAST(sum(gap) AS DOUBLE) / count(gap) AS mtbf_ms
    FROM g WHERE gap IS NOT NULL
    GROUP BY user_id
    """,
)
def events_error_mtbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean time between failures per user: exact epoch-ms gaps between
    consecutive 'error' events (one per-user lag window), rolled up to
    count/min/max/mean — the reliability-engineering readout (MTBF) over
    the same stream the alerting pipeline watches. Gaps and their sums
    are exact BIGINT ms; the mean is one division. Same-ms error pairs
    yield legitimate 0 gaps. Shape: one user-keyed window pass over the
    error subset (filter pushed to the scan), one aggregate."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "error")
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
    )
    e = ev.select(
        "user_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("ms")
    )
    w = Window.partitionBy("user_id").orderBy("ms")
    g = e.select(
        "user_id", (F.col("ms") - F.lag("ms").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    return g.groupBy("user_id").agg(
        F.count("gap").cast("long").alias("n_gaps"),
        F.min("gap").cast("long").alias("min_gap_ms"),
        F.max("gap").cast("long").alias("max_gap_ms"),
        (F.sum("gap").cast("double") / F.count("gap")).alias("mtbf_ms"),
    )


@register(
    "orders_seasonality_index",
    oracle="""
    WITH m AS (
      SELECT CAST(date_part('month', CAST(o_orderdate AS DATE)) AS BIGINT) AS mo,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate IS NOT NULL
      GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(cents) AS BIGINT) AS grand FROM m
    )
    SELECT mo, cents AS rev_cents,
           CASE WHEN grand > 0
                THEN 12.0 * cents / grand END AS seasonal_index
    FROM m, tot
    """,
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month seasonality index: each month's all-years revenue
    share scaled by 12, so 1.0 = a perfectly average month — the
    classical multiplicative seasonal index a demand planner divides out
    before trending. Exact integer cents with ONE division per month
    (12.0*cents/grand — no per-year ratio averaging, so no float
    accumulation at all). Shape: one month-grain aggregate, one 1-row
    broadcast total."""
    orders = load_table(spark, sf_dir, "orders")
    m = (
        orders.filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.month(F.to_date("o_orderdate")).cast("long").alias("mo"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    tot = m.agg(F.sum("cents").cast("long").alias("grand"))
    return m.crossJoin(F.broadcast(tot)).select(
        "mo",
        F.col("cents").alias("rev_cents"),
        F.when(
            F.col("grand") > 0, F.lit(12.0) * F.col("cents") / F.col("grand")
        ).alias("seasonal_index"),
    )


@register(
    "regr_rolling_slope",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS priority,
             CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
      GROUP BY 1, 2
    ),
    w AS (
      SELECT priority, d, y,
             count(*) OVER fr AS n,
             CAST(sum(d) OVER fr AS BIGINT) AS sx,
             CAST(sum(y) OVER fr AS BIGINT) AS sy,
             CAST(sum(d * y) OVER fr AS BIGINT) AS sxy,
             CAST(sum(d * d) OVER fr AS BIGINT) AS sxx
      FROM daily
      WINDOW fr AS (PARTITION BY priority ORDER BY d
                    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT priority, d AS day_epoch, CAST(n AS BIGINT) AS n_days,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / nullif(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx, 0)
                 / 100, 4) AS slope_dollars_per_day
    FROM w
    """,
)
def regr_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day OLS revenue trend per order priority — the
    windowed-regression primitive behind trend-break monitors and
    forecasting features, expressed without any per-window refit: the
    five OLS sufficient sums (n, Σx, Σy, Σxy, Σx²) are RANGE-frame
    window aggregates over the daily table, so each output row costs
    O(1) amortized inside one sorted pass per priority partition.

    Exactness: x is the epoch day and y exact integer cents, so every
    windowed sum is an exact BIGINT accumulated sequentially in frame
    order (window aggregation is not merge-order dependent) — the slope
    is then one deterministic double expression per row. RANGE (not
    ROWS) matters: calendar gaps must shrink the window, not stretch it
    over 30 observations (the RangeFrame-vs-RowsFrame plan distinction
    test_plans pins for the interval-frame query). Degenerate windows
    (single day: zero x-variance) yield NULL via nullif/try_divide."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.filter(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
            .cast("long")
            .alias("d"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    fr = (
        Window.partitionBy("priority")
        .orderBy("d")
        .rangeBetween(-29, Window.currentRow)
    )
    w = daily.select(
        "priority",
        "d",
        F.count(F.lit(1)).over(fr).cast("long").alias("n"),
        F.sum("d").over(fr).cast("long").alias("sx"),
        F.sum("y").over(fr).cast("long").alias("sy"),
        F.sum(F.col("d") * F.col("y")).over(fr).cast("long").alias("sxy"),
        F.sum(F.col("d") * F.col("d")).over(fr).cast("long").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")
    den = F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx")
    return w.select(
        "priority",
        F.col("d").alias("day_epoch"),
        F.col("n").alias("n_days"),
        F.round(F.try_divide(num, den) / 100, 4).alias("slope_dollars_per_day"),
    )


@register(
    "forecast_mase_seasonal",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS priority,
             CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
      GROUP BY 1, 2
    ),
    lagged AS (
      SELECT priority, y,
             lag(y, 1) OVER (PARTITION BY priority ORDER BY d) AS y1,
             lag(y, 7) OVER (PARTITION BY priority ORDER BY d) AS y7
      FROM daily
    ),
    s AS (
      SELECT priority,
             count(CASE WHEN y7 IS NOT NULL THEN 1 END)::BIGINT AS n_scored,
             CAST(sum(CASE WHEN y7 IS NOT NULL THEN abs(y - y7) END) AS BIGINT)
               AS ae_model,
             count(CASE WHEN y1 IS NOT NULL THEN 1 END)::BIGINT AS n_naive,
             CAST(sum(CASE WHEN y1 IS NOT NULL THEN abs(y - y1) END) AS BIGINT)
               AS ae_naive
      FROM lagged GROUP BY priority
    )
    SELECT priority, n_scored,
           CAST(ae_model AS DOUBLE) / nullif(n_scored, 0) / 100
             AS mae_model_dollars,
           CAST(ae_naive AS DOUBLE) / nullif(n_naive, 0) / 100
             AS mae_naive_dollars,
           (CAST(ae_model AS DOUBLE) / nullif(n_scored, 0))
             / nullif(CAST(ae_naive AS DOUBLE) / nullif(n_naive, 0), 0) AS mase
    FROM s
    """,
)
def forecast_mase_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (mean absolute scaled error) of a seasonal-naive lag-7
    forecast against the lag-1 naive scale, per order priority — the
    scale-free forecasting-accuracy standard (Hyndman & Koehler 2006):
    MASE < 1 means the weekly-seasonal model beats the one-step naive
    on the same series.

    Fully exact until the final divisions: daily revenue is integer
    cents, both forecasts are lags over the per-priority daily table
    (one sorted window pass), and the absolute-error sums are BIGINTs —
    so the per-priority MAEs and their ratio are single deterministic
    double expressions, immune to layout. Series edges (first 1/7 days)
    are excluded from their respective error counts rather than padded,
    matching standard practice; all-gone degenerate series (one day)
    turn NULL via nullif/try_divide."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.filter(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
            .cast("long")
            .alias("d"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    w = Window.partitionBy("priority").orderBy("d")
    lagged = daily.select(
        "priority",
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 7).over(w).alias("y7"),
    )
    s = lagged.groupBy("priority").agg(
        F.count("y7").cast("long").alias("n_scored"),
        F.sum(F.when(F.col("y7").isNotNull(), F.abs(F.col("y") - F.col("y7"))))
        .cast("long")
        .alias("ae_model"),
        F.count("y1").cast("long").alias("n_naive"),
        F.sum(F.when(F.col("y1").isNotNull(), F.abs(F.col("y") - F.col("y1"))))
        .cast("long")
        .alias("ae_naive"),
    )
    mae_m = F.try_divide(F.col("ae_model").cast("double"), F.col("n_scored"))
    mae_n = F.try_divide(F.col("ae_naive").cast("double"), F.col("n_naive"))
    # UNROUNDED on purpose: every input is an exact BIGINT, so both
    # engines compute bit-identical doubles — while round(x, 2) here is a
    # cross-engine hazard because ae/n/100 can land EXACTLY on a .xx5
    # half (n=2, odd cents): Spark rounds the double's shortest decimal
    # repr (BigDecimal.valueOf), DuckDB the binary value, and they split
    # (caught by the unicode fuzz fixture).
    return s.select(
        "priority",
        "n_scored",
        (mae_m / 100).alias("mae_model_dollars"),
        (mae_n / 100).alias("mae_naive_dollars"),
        F.try_divide(mae_m, mae_n).alias("mase"),
    )


@register(
    "rolling_median_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
      GROUP BY 1
    ), w AS (
      SELECT day, cents,
             list(cents) OVER (ORDER BY day
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS win
      FROM daily
    )
    SELECT day, cents,
           CAST(list_sort(win)[(len(win) + 1) // 2] AS BIGINT)
             AS med7_cents,
           CAST(len(win) AS BIGINT) AS n_win
    FROM w
    """,
)
def rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day LOWER median of daily revenue — the robust
    trend line dashboards want where a rolling mean chases outliers.
    Means have running-sum identities; an EXACT windowed median does
    not, so the bounded window is materialized as a 7-element array and
    sorted per row (49 comparisons — cheaper than any sketch at this
    window size, and deterministic: the lower median is element
    (n+1)//2 of the sorted window, never an interpolation both engines
    could round differently).

    The window runs over the DAY aggregate (~2.4k rows whatever the
    fact size), so the per-row array sort is over a dimension, not the
    data — at 100 TB the plan is still one fact-side hash aggregate
    plus a tiny ordered pass."""
    # o_totalprice NULLs must go: a day whose every price is NULL gets
    # cents = NULL, and Spark's collect_list DROPS window NULLs while
    # DuckDB's list() keeps them — n_win and the median index diverge
    # (review finding, reproduced). With the filter, cents is never NULL.
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("timestamp_ntz").alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    win = F.array_sort(F.collect_list("cents").over(w))
    return daily.select(
        "day",
        "cents",
        F.element_at(win, ((F.size(win) + 1) / 2).cast("int"))
        .cast("long")
        .alias("med7_cents"),
        F.size(win).cast("long").alias("n_win"),
    )


@register(
    "spc_imr_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
      GROUP BY 1
    ), mr AS (
      SELECT day, cents,
             abs(cents - lag(cents) OVER (ORDER BY day)) AS moving_range
      FROM daily
    ), lim AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             CAST(sum(moving_range) AS BIGINT) AS sum_mr,
             CAST(count(moving_range) AS BIGINT) AS n_mr
      FROM mr
    )
    SELECT mr.day, mr.cents,
           CAST(mr.moving_range AS BIGINT) AS moving_range,
           CASE WHEN abs(mr.cents * lim.n_days - lim.sum_cents) * lim.n_mr
                     > 2.66 * CAST(lim.sum_mr AS DOUBLE) * lim.n_days
                THEN 1 ELSE 0 END AS out_of_control
    FROM mr CROSS JOIN lim
    """,
)
def spc_imr_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Individuals / moving-range (I-MR) control chart on daily revenue
    — the SPC screen ops teams run on any daily KPI: a day is
    out-of-control when it sits more than 2.66 x mean moving range from
    the center line (the Shewhart individuals rule; 2.66 = 3/d2 for
    n=2 subgroups).

    Exactness: the rule |x - mean| > 2.66*MRbar is evaluated as
    |x*n - sum| * n_mr > 2.66*sum_mr*n after multiplying through by both
    denominators — the left side is an EXACT integer and the right one
    double product of exact integers, the same literal expression in
    both engines, so the flag is deterministic. One fact-side hash aggregate, a lag
    window over the day dimension, a 1-row broadcast of the limits."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("timestamp_ntz").alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("day")
    mr = daily.select(
        "day",
        "cents",
        F.abs(F.col("cents") - F.lag("cents").over(w)).alias("moving_range"),
    )
    lim = mr.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.sum("moving_range").cast("long").alias("sum_mr"),
        F.count("moving_range").cast("long").alias("n_mr"),
    )
    # |x - mean| > 2.66*MRbar multiplied through by n*n_mr: the left
    # side |x*n - sum|*n_mr is an exact integer, the right a single
    # double product of exact integers — the same literal expression in
    # both engines, no division anywhere
    dev = (
        F.abs(F.col("cents") * F.col("n_days") - F.col("sum_cents"))
        * F.col("n_mr")
    )
    thresh = 2.66 * F.col("sum_mr").cast("double") * F.col("n_days")
    return mr.crossJoin(F.broadcast(lim)).select(
        "day",
        "cents",
        F.col("moving_range").cast("long").alias("moving_range"),
        F.when(dev > thresh, 1).otherwise(0).alias("out_of_control"),
    )


@register(
    "timeseries_bollinger_breach",
    oracle=f"""
    WITH daily AS ({_DAILY_REV_SQL}
    ), rolled AS (
      SELECT r_name, day, cents,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(cents) OVER w AS BIGINT) AS s,
             sum(CAST(cents AS HUGEINT) * cents) OVER w AS ss
      FROM daily
      WINDOW w AS (PARTITION BY r_name ORDER BY day
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), flagged AS (
      SELECT r_name,
             CASE WHEN (CAST(n AS HUGEINT) * cents - s)
                       * (CAST(n AS HUGEINT) * cents - s)
                       > 4 * (n * ss - CAST(s AS HUGEINT) * s)
                       AND CAST(n AS HUGEINT) * cents > s
                  THEN 1 ELSE 0 END AS up,
             CASE WHEN (CAST(n AS HUGEINT) * cents - s)
                       * (CAST(n AS HUGEINT) * cents - s)
                       > 4 * (n * ss - CAST(s AS HUGEINT) * s)
                       AND CAST(n AS HUGEINT) * cents < s
                  THEN 1 ELSE 0 END AS down
      FROM rolled WHERE n = 20
    )
    SELECT r_name,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(up) AS BIGINT) AS n_breach_upper,
           CAST(sum(down) AS BIGINT) AS n_breach_lower
    FROM flagged GROUP BY r_name
    """,
)
def timeseries_bollinger_breach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breach census per region: days whose revenue falls
    outside mean +/- 2 sigma of the trailing 20 observations (population
    sigma, band inclusive of the current day — the classic technical
    band) — the volatility-scaled cousin of the fixed-limit I-MR chart
    (`spc_imr_revenue`). The breach DECISION is exact integer algebra:
    |y - s/n| > 2*sigma clears denominators to (n*y - s)^2 > 4*(n*ss -
    s^2), every term carried in DECIMAL(38,0)/HUGEINT (cents^2 passes
    2^63 at large SF) — no float ever enters the flag, so the counts
    hash bit-for-bit.

    Shape: one fact-side hash aggregate to (region, day), one rolling
    window over the ~2.4k-day dimension per region, one per-region
    reduction. Raw orders are touched exactly once."""
    daily = daily_regional_revenue(spark, sf_dir)
    w = Window.partitionBy("r_name").orderBy("day").rowsBetween(-19, 0)
    rolled = daily.select(
        "r_name",
        "cents",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("cents").over(w).cast("long").alias("s"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .over(w)
        .alias("ss"),
    ).filter(F.col("n") == 20)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dev = dec(F.col("n")) * F.col("cents") - F.col("s")
    var4 = 4 * (dec(F.col("n")) * F.col("ss") - dec(F.col("s")) * F.col("s"))
    breach = dev * dev > var4
    hi = dec(F.col("n")) * F.col("cents") > dec(F.col("s"))
    lo = dec(F.col("n")) * F.col("cents") < dec(F.col("s"))
    flagged = rolled.select(
        "r_name",
        F.when(breach & hi, 1).otherwise(0).alias("up"),
        F.when(breach & lo, 1).otherwise(0).alias("down"),
    )
    return flagged.groupBy("r_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("up").cast("long").alias("n_breach_upper"),
        F.sum("down").cast("long").alias("n_breach_lower"),
    )


@register(
    "events_slo_error_budget",
    oracle="""
    WITH daily AS (
      SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(count(*) AS BIGINT) AS n_tot,
             CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_err
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1
    ), rolled AS (
      SELECT day, n_tot, n_err,
             CAST(count(*) OVER w AS BIGINT) AS nw,
             CAST(sum(n_tot) OVER w AS BIGINT) AS roll_tot,
             CAST(sum(n_err) OVER w AS BIGINT) AS roll_err
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
    )
    SELECT day, n_tot, n_err, roll_tot, roll_err,
           CAST(roll_err AS DOUBLE) / roll_tot AS err_rate,
           100.0 * roll_err / roll_tot AS budget_burn,
           CASE WHEN 100 * roll_err > roll_tot THEN 1 ELSE 0 END AS breach
    FROM rolled WHERE nw = 28
    """,
)
def events_slo_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn over a rolling 28-observation window: with a
    99% success objective the budget is 1% of requests, so budget_burn =
    rolling errors / (1% of rolling total) and burn > 1 (equivalently
    the EXACT integer inequality 100*roll_err > roll_tot) means the
    budget is spent — the SRE page-or-not readout. All counts and the
    breach DECISION are exact integers; the two reported ratios are
    single divisions of exact integers, emitted unrounded.

    Shape: one fact aggregate to day grain (map-side combined), one
    rolling window over the ~30-day dimension table. The day-grain
    window is the ONLY ordered pass and runs over date-cardinality
    input — bounded by the calendar, the legitimate use of an
    unpartitioned window (registry convention)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(
        F.datediff(
            F.col("ts").cast("timestamp").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_tot"),
        F.count(F.when(F.col("event_type") == "error", 1))
        .cast("long")
        .alias("n_err"),
    )
    w = Window.orderBy("day").rowsBetween(-27, 0)
    rolled = daily.select(
        "day",
        "n_tot",
        "n_err",
        F.count(F.lit(1)).over(w).cast("long").alias("nw"),
        F.sum("n_tot").over(w).cast("long").alias("roll_tot"),
        F.sum("n_err").over(w).cast("long").alias("roll_err"),
    ).filter(F.col("nw") == 28)
    return rolled.select(
        "day",
        "n_tot",
        "n_err",
        "roll_tot",
        "roll_err",
        (F.col("roll_err").cast("double") / F.col("roll_tot")).alias("err_rate"),
        (100.0 * F.col("roll_err") / F.col("roll_tot")).alias("budget_burn"),
        F.when(100 * F.col("roll_err") > F.col("roll_tot"), 1)
        .otherwise(0)
        .alias("breach"),
    )
