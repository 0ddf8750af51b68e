"""Recursive queries: Spark 4 `WITH RECURSIVE` for calendar-spine
gap-fill and hierarchy rollup; one bounded fold each for Holt and
Holt-Winters smoothing, banded DTW and Croston.

Extension surface (SURVEY.md §2.C, SQL-surface family): the reference has
no SQL interface at all; these pin the two canonical recursive-SQL shapes
a warehouse user expects — generate-a-spine and walk-a-hierarchy — on
Spark 4's native recursive CTE execution (iterative union with a loop
limit, default 100 levels). Both recursions are DEPTH-bounded by data
properties (months in the date range ≈ 80; log₂(max partkey) ≈ 15), not
row counts, so they hold at 100 TB and stay under the default limit:
each iteration is a small narrow-dependency step and the expensive
tables join AFTER the recursion produces a tiny spine/closure. Past the
limit Spark fails loudly (RECURSION_LEVEL_LIMIT_EXCEEDED); a recursion
that needs more headroom takes the per-query `MAX RECURSION LEVEL n`
clause, never a session conf write.

Both queries run verbatim in DuckDB (same ANSI recursive syntax), so they
carry full value oracles.

The other four recurrences are coupled scalar state over a series whose
length a fixed calendar window sets, not the data. Each Spark step of a
recursive CTE costs jobs, so they recurse only in their oracles and run
in Spark as one operators/sequential.py:fold: Spark aggregates the
series once, and the recurrence does the oracle's arithmetic in the same
order in Python, so every state stays bitwise-equal.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.sequential import fold
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table


# The spine carries the max bound as a column through the recursion
# (anchor computes both endpoints) because neither engine allows a scalar
# subquery in the recursive term. Monthly grain keeps the recursion depth
# at ~80 — under Spark's default 100-level recursion limit — regardless
# of row count; a daily spine would blow the level limit and should use
# sequence()/generate_series instead (see timeseries_gapfill).
_MONTH_SPINE_SQL = """
WITH RECURSIVE months(m, mx) AS (
  SELECT date_trunc('MONTH', min(o_orderdate)),
         date_trunc('MONTH', max(o_orderdate))
  FROM {orders}
  UNION ALL
  SELECT m + INTERVAL 1 MONTH, mx FROM months WHERE m < mx
)
SELECT CAST(months.m AS {TS}) AS month_start,
       count(o.o_orderkey)::BIGINT AS n_orders,
       round(coalesce(sum(o.o_totalprice), 0.0), 2) AS revenue
FROM months
LEFT JOIN {orders} o ON date_trunc('MONTH', o.o_orderdate) = months.m
GROUP BY months.m
"""

_PART_HIERARCHY_SQL = """
WITH RECURSIVE anc(part_key, node) AS (
  SELECT p_partkey, p_partkey FROM {part}
  UNION ALL
  SELECT part_key, CAST(FLOOR(node / 2.0) AS BIGINT) FROM anc WHERE node >= 2
)
SELECT node AS ancestor,
       count(*)::BIGINT AS n_desc,
       round(sum(p.p_retailprice), 2) AS subtree_price,
       round(max(p.p_retailprice), 2) AS max_price
FROM anc JOIN {part} p ON anc.part_key = p.p_partkey
WHERE node BETWEEN 1 AND 15
GROUP BY node
"""


def _duck(sql: str) -> str:
    # {TS}: the driver's value compare distinguishes datetime.date from
    # datetime.datetime, and DuckDB's date_trunc('MONTH', ts) yields DATE
    # while Spark yields a timestamp — pin BOTH outputs to a (naive)
    # timestamp per the registry convention.
    return (
        sql.replace("{orders}", "orders")
        .replace("{part}", "part")
        .replace("{TS}", "TIMESTAMP")
    )


def _spark_sql(
    spark: SparkSession, sf_dir: str, sql: str, tables: dict[str, str]
) -> DataFrame:
    # Spark's count(x)::BIGINT cast syntax differs; normalize the two
    # DuckDB-isms used above to portable forms for the Spark run.
    # spark.sql binds each {placeholder} to its table through a uniquely
    # named temp view that it drops again before returning.
    portable = sql.replace("::BIGINT", "").replace("{TS}", "TIMESTAMP_NTZ")
    return spark.sql(
        portable, **{ph: load_table(spark, sf_dir, name) for ph, name in tables.items()}
    )


@register("recursive_month_spine_revenue", oracle=_duck(_MONTH_SPINE_SQL))
def recursive_month_spine_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free monthly revenue via a WITH RECURSIVE month spine.

    The recursion generates the ~80-month calendar from the data's own
    min/max (anchor aggregates once; each step adds one month, carrying
    the max bound as a column). The spine is tiny, so the LEFT JOIN
    against orders broadcasts it and the fact table is touched exactly
    once — recursion cost is independent of table size. Months with no
    orders surface as (0, 0.00) rows, which the inner-join-shaped oracle
    would miss; the value hash pins that gap-fill semantic."""
    df = _spark_sql(spark, sf_dir, _MONTH_SPINE_SQL, {"orders": "orders"})
    # count(x) is BIGINT in Spark already; revenue rounding matches oracle.
    return df


@register("recursive_part_hierarchy_rollup", oracle=_duck(_PART_HIERARCHY_SQL))
def recursive_part_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtree rollup via WITH RECURSIVE ancestor closure.

    Parts form an implicit binary tree (parent = ⌊key/2⌋ — a synthetic
    but deterministic BOM stand-in, since TPC-H carries no part
    hierarchy). The recursion emits every (part, ancestor) pair in
    ⌈log₂ max_key⌉ ≈ 15 iterations; closure size is n·log n, NOT n², and
    each iteration is a narrow map over the frontier (no join inside the
    loop — the rollup joins part prices once, after). Restricting output
    to ancestors 1..15 reports the top four levels of the tree."""
    return _spark_sql(spark, sf_dir, _PART_HIERARCHY_SQL, {"part": "part"})


# Holt's linear-trend (double) exponential smoothing. EWMA has a closed
# form (events_ewma), but Holt's COUPLED level/trend recursion does not.
# It runs over the MONTH-grain aggregate (~84 rows; the calendar fixes
# the length) as one fold in Python floats. Money is summed in integer
# cents so the series is bitwise-identical in both engines, and each
# step does _HOLT_STEP_SQL's double operations in the same order, so
# level and trend stay bitwise-equal. Rounding happens only at output,
# in Spark (HALF_UP like the oracle; Python's round is half-even).
_HOLT_STEP_SQL = """holt(i, m, y, lvl, trd) AS (
  SELECT i, m, y, y, CAST(0.0 AS DOUBLE) FROM {idx} WHERE i = 1
  UNION ALL
  SELECT x.i, x.m, x.y,
         CAST(0.4 AS DOUBLE) * x.y + CAST(0.6 AS DOUBLE) * (h.lvl + h.trd),
         CAST(0.3 AS DOUBLE)
           * ((CAST(0.4 AS DOUBLE) * x.y
               + CAST(0.6 AS DOUBLE) * (h.lvl + h.trd)) - h.lvl)
           + CAST(0.7 AS DOUBLE) * h.trd
  FROM holt h JOIN {idx} x ON x.i = h.i + 1
)
SELECT i AS step, round(y, 2) AS revenue, round(lvl, 2) AS level,
       round(trd, 2) AS trend, round(lvl + trd, 2) AS forecast_next
FROM holt"""

_HOLT_ORACLE = (
    """
WITH RECURSIVE months AS (
  SELECT date_trunc('MONTH', o_orderdate) AS m,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY date_trunc('MONTH', o_orderdate)
), idx AS (
  SELECT m, c / CAST(100.0 AS DOUBLE) AS y,
         CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS i
  FROM months
), """
    + _HOLT_STEP_SQL.format(idx="idx")
)


def _holt_steps(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for i, y in enumerate(pdf["y"].tolist(), 1):
        if i == 1:
            lvl, trd = y, 0.0
        else:
            new = 0.4 * y + 0.6 * (lvl + trd)
            lvl, trd = new, 0.3 * (new - lvl) + 0.7 * trd
        rows.append((i, y, lvl, trd))
    return pd.DataFrame(rows, columns=["step", "revenue", "level", "trend"])


@register("recursive_holt_linear_trend", oracle=_HOLT_ORACLE)
def recursive_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing of monthly revenue (alpha=0.4,
    beta=0.3): level_t = a*y_t + (1-a)*(level+trend),
    trend_t = b*(level_t - level) + (1-b)*trend, one step per month.
    Emits the full fitted series plus the one-step-ahead forecast;
    value-oracled exactly (integer-cent inputs, identical step
    arithmetic)."""
    # NULL dates/prices out: a NULL month group flips the step order
    # between the engines' NULL-ordering defaults, and an all-NULL-price
    # month would send a NULL y through every later step (nulls fuzz
    # finding).
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    months = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")).alias("c"))
    series = months.select("m", (F.col("c") / F.lit(100.0).cast("double")).alias("y"))
    holt = fold(
        series, "m", _holt_steps, "step long, revenue double, level double, trend double"
    )
    return holt.select(
        "step",
        *(F.round(c, 2).alias(c) for c in ("revenue", "level", "trend")),
        F.round(F.col("level") + F.col("trend"), 2).alias("forecast_next"),
    )


# Holt-Winters ADDITIVE seasonal smoothing (level + trend + 7-slot
# seasonal state), the seasonal extension of recursive_holt_linear_trend.
# The oracle carries the seasonal state as a 7-element DOUBLE list: ss[1]
# is the component due at the current step, and each step rotates the
# list. The Spark side runs the same recursion as one fold, with
# _hw_step's arithmetic in the same order, so every state stays bitwise
# equal. Window: 59 days of 1995 covers 8 full weekly cycles.
def _hw_step(s1: str) -> tuple[str, str, str]:
    lvl = (
        f"(CAST(0.4 AS DOUBLE) * (x.y - {s1}) "
        "+ CAST(0.6 AS DOUBLE) * (h.lvl + h.trd))"
    )
    trd = (
        f"(CAST(0.3 AS DOUBLE) * ({lvl} - h.lvl) "
        "+ CAST(0.7 AS DOUBLE) * h.trd)"
    )
    snew = f"(CAST(0.2 AS DOUBLE) * (x.y - {lvl}) + CAST(0.8 AS DOUBLE) * {s1})"
    return lvl, trd, snew


_HW_FINAL_SQL = """
SELECT i AS step, d_ms AS day_ms, round(y, 2) AS revenue,
       round(lvl, 2) AS level, round(trd, 2) AS trend,
       round(sn, 2) AS seasonal, round(fit, 2) AS fitted
FROM hw WHERE i > 7"""

_HW_LVL_D, _HW_TRD_D, _HW_SNEW_D = _hw_step("h.ss[1]")
_HW_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1995-03-01'
  GROUP BY date_trunc('day', o_orderdate)
), idx AS (
  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
         CAST(epoch_ms(d) AS BIGINT) AS d_ms,
         c, c / CAST(100.0 AS DOUBLE) AS y
  FROM daily
), w7 AS (
  SELECT i, c, CAST(sum(c) OVER () AS BIGINT) AS sc FROM idx WHERE i <= 7
), anchor AS (
  SELECT CAST(7 AS BIGINT) AS i, CAST(NULL AS BIGINT) AS d_ms,
         CAST(NULL AS DOUBLE) AS y,
         max(sc) / CAST(700.0 AS DOUBLE) AS lvl,
         CAST(0.0 AS DOUBLE) AS trd,
         CAST(NULL AS DOUBLE) AS sn, CAST(NULL AS DOUBLE) AS fit,
         list(c / CAST(100.0 AS DOUBLE) - sc / CAST(700.0 AS DOUBLE)
              ORDER BY i) AS ss
  FROM w7
), hw AS (
  SELECT * FROM anchor
  UNION ALL
  SELECT x.i, x.d_ms, x.y,
         {_HW_LVL_D},
         {_HW_TRD_D},
         {_HW_SNEW_D},
         h.lvl + h.trd + h.ss[1],
         list_append(list_slice(h.ss, 2, 7), {_HW_SNEW_D})
  FROM hw h JOIN idx x ON x.i = h.i + 1
){_HW_FINAL_SQL}
"""


def _hw_steps(pdf: pd.DataFrame) -> pd.DataFrame:
    # a NULL day sum arrives as NaN and propagates through + - * as NULL
    # does in SQL; fold's pandas output turns NaN back into NULL
    y, d_ms = pdf["y"].tolist(), pdf["day_ms"].tolist()
    # anchor: SQL sum skips NULL cents and is NULL when all are NULL
    week = pdf["c"].iloc[:7].dropna()
    base = int(week.astype("int64").sum()) / 700.0 if len(week) else float("nan")
    lvl, trd, ss = base, 0.0, [v - base for v in y[:7]]
    rows = []
    for i in range(8, len(y) + 1):
        yi, s1 = y[i - 1], ss[0]
        new = 0.4 * (yi - s1) + 0.6 * (lvl + trd)
        new_trd = 0.3 * (new - lvl) + 0.7 * trd
        sn = 0.2 * (yi - new) + 0.8 * s1
        rows.append((i, d_ms[i - 1], yi, new, new_trd, sn, lvl + trd + s1))
        lvl, trd, ss = new, new_trd, ss[1:] + [sn]
    return pd.DataFrame(
        rows, columns=["step", "day_ms", "revenue", "level", "trend", "seasonal", "fitted"]
    )


@register("recursive_holt_winters_daily", oracle=_HW_ORACLE)
def recursive_holt_winters_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing of daily
    revenue with a weekly (7-slot) season (alpha=0.4, beta=0.3,
    gamma=0.2): the coupled level/trend/seasonal recursion has no closed
    form. Initialization is the standard first-cycle anchor: level =
    mean of the first week, trend 0, seasonal = each day's deviation
    from that mean. The series length is fixed by the 59-day window at
    any table size; integer-cent daily sums enter as bitwise-identical
    doubles and rounding happens at output only."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-03-01").cast("timestamp"))
        )
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")).alias("c"))
    )
    series = daily.select(
        F.unix_millis(F.col("d").cast("timestamp")).alias("day_ms"),
        "c",
        (F.col("c") / F.lit(100.0)).alias("y"),
    )
    hw = fold(
        series,
        "day_ms",
        _hw_steps,
        "step long, day_ms long, revenue double, level double, trend double, "
        "seasonal double, fitted double",
    )
    return hw.select(
        "step",
        "day_ms",
        *(F.round(c, 2).alias(c) for c in ("revenue", "level", "trend", "seasonal", "fitted")),
    )


_DTW_INF = 1 << 50  # > any real path cost, no overflow under accumulation
_DTW_N = 59  # days in [1995-01-01, 1995-03-01) — fixed window, SF-invariant
_DTW_W = 7  # Sakoe-Chiba band half-width
_DTW_ITERS = 2 * _DTW_N - 1

_DTW_ORACLE = f"""
    WITH RECURSIVE dly AS (
      SELECT (epoch_ms(o_orderdate) // 86400000)
             - (epoch_ms(TIMESTAMP '1995-01-01 00:00:00') // 86400000) AS d,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                           THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS cb
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1995-03-01'
      GROUP BY 1
    ), spine AS (SELECT unnest(generate_series(0, {_DTW_N - 1})) AS d),
    arrs AS (
      SELECT list(CAST(coalesce(dly.ca, 0) AS BIGINT) ORDER BY spine.d) AS a,
             list(CAST(coalesce(dly.cb, 0) AS BIGINT) ORDER BY spine.d) AS b
      FROM spine LEFT JOIN dly ON spine.d = dly.d
    ),
    st AS (
      SELECT 1 AS t,
             CAST([CASE WHEN i = 1 THEN abs(a[1] - b[1])
                        ELSE {_DTW_INF} END
                   FOR i IN generate_series(1, {_DTW_N})] AS BIGINT[]) AS cur,
             CAST([{_DTW_INF} FOR i IN generate_series(1, {_DTW_N})]
                  AS BIGINT[]) AS prev,
             a, b
      FROM arrs
      UNION ALL
      SELECT t + 1,
             CAST([
               CASE WHEN t + 2 - i BETWEEN 1 AND {_DTW_N}
                         AND abs(2 * i - t - 2) <= {_DTW_W}
                    THEN abs(a[i] - b[t + 2 - i])
                         + least(coalesce(cur[i - 1], {_DTW_INF}),
                                 coalesce(cur[i], {_DTW_INF}),
                                 coalesce(prev[i - 1], {_DTW_INF}))
                    ELSE {_DTW_INF} END
               FOR i IN generate_series(1, {_DTW_N})] AS BIGINT[]),
             cur, a, b
      FROM st WHERE t < {_DTW_ITERS}
    )
    SELECT CAST({_DTW_N} AS BIGINT) AS n_days,
           CAST(cur[{_DTW_N}] AS BIGINT) AS dtw_cents
    FROM st WHERE t = {_DTW_ITERS}
    """


def _dtw_band(pdf: pd.DataFrame) -> pd.DataFrame:
    # row i of the DP over columns 0..n; column 0 and row 0 are the
    # boundary (only D[0][0] = 0 is finite), cells off the band stay INF
    a, b = pdf["ca"].tolist(), pdf["cb"].tolist()
    n = len(a)
    prev = [0] + [_DTW_INF] * n
    for i in range(1, n + 1):
        cur = [_DTW_INF] * (n + 1)
        for j in range(max(1, i - _DTW_W), min(n, i + _DTW_W) + 1):
            cur[j] = abs(a[i - 1] - b[j - 1]) + min(prev[j], cur[j - 1], prev[j - 1])
        prev = cur
    return pd.DataFrame({"n_days": [n], "dtw_cents": [prev[n]]})


@register("timeseries_dtw_band", oracle=_DTW_ORACLE)
def timeseries_dtw_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded dynamic-time-warping distance between the URGENT and LOW
    daily revenue series over a fixed 59-day window — the elastic
    similarity measure used to compare phase-shifted time series where
    pointwise (Euclidean) distance over-penalizes small lags.

    Spark aggregates the daily conditional cents once and left-joins
    them onto the 59-day spine (empty days cost 0, so an empty window
    still gives one row, dtw 0). The O(n·w) DP is a local computation
    over those 59 rows, so it runs as one fold in Python ints, not as
    one distributed step per anti-diagonal (the oracle's recursion):
    its size is fixed by the WINDOW, not the table. All costs are exact
    integer cents with the oracle's integer INF sentinel (2^50 — min()
    absorbs it, and accumulation cannot reach int64), so the distance
    is bit-identical cross-engine. The Sakoe-Chiba band (|i-j| <= 7) is
    the standard constraint that keeps warping local and cuts the DP to
    O(n·w)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    zero = F.lit(0).cast("long")
    dly = (
        orders.filter(
            F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
            & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-03-01").cast("timestamp"))
        )
        .groupBy(
            (
                F.expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000")
                - F.lit(9131).cast("long")  # epoch-day of 1995-01-01
            ).alias("d")
        )
        .agg(
            *(
                F.sum(F.when(F.col("o_orderpriority") == pri, cents).otherwise(zero))
                .cast("long")
                .alias(c)
                for c, pri in (("ca", "1-URGENT"), ("cb", "5-LOW"))
            )
        )
    )
    days = spark.range(_DTW_N).withColumnRenamed("id", "d").join(dly, "d", "left")
    series = days.select(
        "d", *(F.coalesce(c, zero).alias(c) for c in ("ca", "cb"))
    )
    return fold(series, "d", _dtw_band, "n_days long, dtw_cents long")


# Croston's method — THE intermittent-demand forecaster (sparse series
# with many zero periods, where plain exponential smoothing collapses
# toward zero between demands). Two coupled EWMA states update ONLY on
# nonzero-demand periods: demand size z and inter-demand interval p;
# forecast = z/p. Like Holt, the coupled recursion has no closed form.
# The oracle recurses one row per step over the NONZERO days only (the
# zero days never enter the loop; their count rides in as the integer
# gap); Spark runs the same steps as one fold over the demand days of a
# FIXED calendar window (<= 181 at any SF). Demand sums are exact
# integer quantities, the gap is an exact integer day count, and each
# step does the oracle's double operations in the same order — states
# stay bitwise-equal and are emitted UNROUNDED (round() on identical
# doubles is the cross-engine hazard).
_CROSTON_ORACLE = """
WITH RECURSIVE demand AS MATERIALIZED (
  SELECT date_trunc('day', l_shipdate) AS d_day,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d
  FROM lineitem
  WHERE l_partkey % 499 = 3
    AND l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1995-07-01'
  GROUP BY 1
), idx AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY d_day) AS BIGINT) AS i,
         CAST(epoch_ms(d_day) AS BIGINT) AS d_ms, d,
         CAST(coalesce(date_diff('day',
              lag(d_day) OVER (ORDER BY d_day), d_day), 1) AS BIGINT) AS q
  FROM demand
), croston(i, d_ms, d, q, z, p) AS (
  SELECT i, d_ms, d, q, CAST(d AS DOUBLE), CAST(1.0 AS DOUBLE)
  FROM idx WHERE i = 1
  UNION ALL
  SELECT x.i, x.d_ms, x.d, x.q,
         CAST(0.1 AS DOUBLE) * x.d + CAST(0.9 AS DOUBLE) * c.z,
         CAST(0.1 AS DOUBLE) * x.q + CAST(0.9 AS DOUBLE) * c.p
  FROM croston c JOIN idx x ON x.i = c.i + 1
)
SELECT i AS step, d_ms AS day_ms, d AS demand, q AS gap_days,
       z AS size_ewma, p AS interval_ewma, z / p AS forecast
FROM croston"""


def _croston_steps(pdf: pd.DataFrame) -> pd.DataFrame:
    # a NULL demand day (all quantities NULL) arrives as NaN and turns
    # every later size state NaN, as NULL does in the oracle's step; the
    # output maps NaN back to NULL
    rows, prev = [], None
    for i, (day_ms, day, d) in enumerate(zip(pdf["day_ms"], pdf["day"], pdf["d"]), 1):
        q = 1 if prev is None else int(day) - prev
        if i == 1:
            z, p = float(d), 1.0
        else:
            z, p = 0.1 * d + 0.9 * z, 0.1 * q + 0.9 * p
        rows.append((i, int(day_ms), None if pd.isna(d) else int(d), q, z, p, z / p))
        prev = int(day)
    out = pd.DataFrame(
        rows,
        columns=["step", "day_ms", "demand", "gap_days", "size_ewma", "interval_ewma", "forecast"],
    )
    out["demand"] = out["demand"].astype("Int64")
    return out


@register("timeseries_croston", oracle=_CROSTON_ORACLE)
def timeseries_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast (alpha=0.1) for a sparse part
    slice's daily shipped quantity: size and interval EWMAs update only
    on demand days, forecast = size/interval — the standard
    spares/slow-mover model a plain EWMA gets wrong on sparse series.

    Spark scans and aggregates the fact table once into the <=181
    demand days; the recurrence runs over them as one fold, so its cost
    is independent of table size. The first demand day anchors z = its
    demand, p = 1 (no observed prior interval); gaps are integer day
    counts between consecutive demand days."""
    li = load_table(spark, sf_dir, "lineitem")
    demand = (
        li.filter(
            (F.col("l_partkey") % 499 == 3)
            & (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-07-01").cast("timestamp"))
        )
        .groupBy(F.date_trunc("day", F.col("l_shipdate")).alias("d_day"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("d"))
    )
    series = demand.select(
        F.unix_millis(F.col("d_day").cast("timestamp")).alias("day_ms"),
        F.unix_date(F.col("d_day").cast("date")).alias("day"),
        "d",
    )
    return fold(
        series,
        "day_ms",
        _croston_steps,
        "step long, day_ms long, demand long, gap_days long, size_ewma double, "
        "interval_ewma double, forecast double",
    )
