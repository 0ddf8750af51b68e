"""Relational operator coverage (SURVEY §2.C) over the TPC-H-ish schema.

Each query exercises one operator family and names its physical-plan
expectation (what .explain should show); bench.py re-runs the headline
ones at sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.relational import asof_join, top_k_per_group
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           sum(CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT)) / 100.0
             AS sum_base_price,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                    AS HUGEINT)) / 10000.0 AS sum_disc_price,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                          * 1000000 + 0.5) AS HUGEINT)) / 1000000.0 AS sum_charge,
           sum(l_quantity) / count(*) AS avg_qty,
           sum(CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT))
             / (100.0 * count(*)) AS avg_price,
           sum(CAST(floor(l_discount * 100 + 0.5) AS HUGEINT))
             / (100.0 * count(*)) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan+filter (pushed to parquet) -> partial+final
    hash aggregate on two low-cardinality keys. No join, one shuffle.

    Exact-integer discipline (round-10 repart-fuzz finding, rounding
    refined per ADVICE r10): the money sums accumulate NEAREST-INTEGER
    scaled integers (cents / 1e-4 / 1e-6 — the native decimal scales of
    price, price*(1-disc), and the charge product) in
    DECIMAL(38,0)/HUGEINT, so partial-aggregate merge order cannot move
    the result — the raw double sums flipped round(x, 2) at a boundary
    roughly 1 run in 3 under the 1-file vs 16-file layout sweep.
    floor(x*scale + 0.5), not floor(x*scale): cent-valued doubles often
    sit a few ulps BELOW the true integer (0.29*100 = 28.999...996), so
    bare floor landed one unit low per row (ADVICE r10). And not
    round(x*scale) either: Spark's round on DOUBLE goes through
    BigDecimal per row (~3x the floor cost on this scan — measured at
    sf0.1), while floor(x + 0.5) is the SAME expression text in both
    engines — nearest-integer semantics with zero engine-split risk and
    floor-level cost. Quantities are integral (double sums of integers
    are exact and order-free below 2^53) and every emitted double is
    one division of exact integers, unrounded per the no-rounding rule."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    base_e2 = F.sum(dec(F.floor(F.col("l_extendedprice") * 100 + 0.5)))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    disc_e4 = F.sum(dec(F.floor(disc_price * 10000 + 0.5)))
    charge_e6 = F.sum(dec(F.floor(disc_price * (1 + F.col("l_tax")) * 1000000 + 0.5)))
    disc_e2 = F.sum(dec(F.floor(F.col("l_discount") * 100 + 0.5)))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (base_e2 / 100.0).alias("sum_base_price"),
            (disc_e4 / 10000.0).alias("sum_disc_price"),
            (charge_e6 / 1000000.0).alias("sum_charge"),
            (F.sum("l_quantity") / n).alias("avg_qty"),
            (base_e2 / (100.0 * n)).alias("avg_price"),
            (disc_e2 / (100.0 * n)).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> join chain -> agg -> top-10.
    customer (small dim) broadcasts into orders; orders x lineitem stays a
    shuffle join — orders is NOT broadcastable at production scale, and AQE
    may still pick a better strategy at runtime from real sizes."""
    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join. All dims broadcast; the single big
    fact (lineitem) flows through one pipeline of broadcast hash joins."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    return (
        t["lineitem"]
        .join(F.broadcast(t["orders"].filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["customer"]),
              (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-sum — every predicate must reach
    the parquet reader; zero shuffles beyond the final single-row agg."""
    li = load_table(spark, sf_dir, "lineitem")
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    return (
        li.filter(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q18_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 150
    )
    SELECT o_orderkey, o_custkey, o_totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM orders
    JOIN big ON o_orderkey = big.l_orderkey
    JOIN lineitem ON lineitem.l_orderkey = o_orderkey
    GROUP BY o_orderkey, o_custkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate as a semi-join input,
    re-join with the fact, top-20. The `big` set is aggregated BEFORE the
    join (shrinks the join's left side by orders of magnitude at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 150)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .drop("l_orderkey")
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
           count(*) AS n_rows
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation (CASE inside sum) over a
    broadcast join — one scan, one broadcast, one single-row agg."""
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1997-07-01 00:00:00").cast("timestamp_ntz")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "join_broadcast_part_revenue",
    oracle="""
    SELECT p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def join_broadcast_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast equi-join: fact x small dim with explicit broadcast hint —
    zero shuffle on lineitem before the aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): no right-side columns, no duplication."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 350000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no large order (the
    unfiltered variant is vacuously empty in this data — every customer
    has orders)."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 350000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey,
           count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "join_right_outer",
    oracle="""
    SELECT c_custkey, o_orderkey
    FROM (SELECT * FROM orders WHERE o_totalprice > 400000) o
    RIGHT JOIN customer ON o_custkey = c_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: all customers, their big orders where present."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return big.join(cust, big.o_custkey == cust.c_custkey, "right").select(
        "c_custkey", "o_orderkey"
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT coalesce(c.k, s.k) AS nationkey, c.n_cust, s.n_supp
    FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1) c
    FULL JOIN (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1) s
    ON c.k = s.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: nation presence across customers vs suppliers."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, c.ck == s.sk, "full").select(
        F.coalesce(F.col("ck"), F.col("sk")).alias("nationkey"),
        "n_cust",
        "n_supp",
    )


@register(
    "join_range_theta",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_late
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY o_orderpriority
    """,
)
def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range condition: the equi key keeps it a hash join; the
    range predicate is applied as a post-join filter by Catalyst."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 60 DAY")),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late"))
    )


@register(
    "join_asof",
    oracle="""
    SELECT p.event_id, p.user_id,
           epoch_ms(CAST(p.ts AS TIMESTAMP)) AS purchase_ms,
           epoch_ms(CAST(c.ts AS TIMESTAMP)) AS last_click_ms
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: each purchase gets the latest prior click.

    Implemented with the union+window formulation (operators/relational.py)
    — one shuffle + one sort, no nested-loop join; oracle uses DuckDB's
    native ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(
        purchases, clicks, on="user_id", ts_col="ts", value_cols=[], right_ts_alias="click_ts"
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("purchase_ms"),
        F.unix_millis(F.col("click_ts").cast("timestamp")).alias("last_click_ms"),
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    ), b AS (
      SELECT p.event_id, c.ts AS bts
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
    ), f AS (
      SELECT p.event_id, c.ts AS fts
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts >= p.ts
    )
    SELECT p.event_id, p.user_id,
           epoch_ms(CAST(p.ts AS TIMESTAMP)) AS purchase_ms,
           epoch_ms(CAST(
             CASE
               WHEN fts IS NULL THEN bts
               WHEN bts IS NULL THEN fts
               WHEN epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(bts AS TIMESTAMP))
                    <= epoch_us(CAST(fts AS TIMESTAMP)) - epoch_us(CAST(p.ts AS TIMESTAMP))
                 THEN bts
               ELSE fts
             END AS TIMESTAMP)) AS nearest_click_ms
    FROM p JOIN b USING (event_id) JOIN f USING (event_id)
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of NEAREST join: each purchase gets the click closest in time,
    before or after, ties -> the earlier click (pandas merge_asof
    direction='nearest' semantics). Same union+window plan as the
    backward as-of — ONE shuffle and ONE sort produce both the backward
    and forward running fills, then a scalar pick chooses per row. The
    oracle composes DuckDB's native backward (<=) and forward (>=) ASOF
    joins with the same tie rule. The range-join alternative (join on
    user + |delta| min) is a quadratic blowup per hot user — never do
    that at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        ts_col="ts",
        value_cols=[],
        right_ts_alias="click_ts",
        direction="nearest",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("purchase_ms"),
        F.unix_millis(F.col("click_ts").cast("timestamp")).alias(
            "nearest_click_ms"
        ),
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation (expand + two-phase distinct agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy: (flag, status), (flag), ()."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping combinations."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


_GROUPING_SETS_SQL = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM {lineitem}
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """


@register("agg_grouping_sets", oracle=_GROUPING_SETS_SQL.format(lineitem="lineitem"))
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL (same Expand-based plan)."""
    return spark.sql(_GROUPING_SETS_SQL, lineitem=load_table(spark, sf_dir, "lineitem"))


@register(
    "agg_stats",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(stddev_samp(value), 4) AS sd,
           round(var_samp(value), 4) AS variance,
           round(quantile_cont(value, 0.5), 4) AS median_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates incl. exact interpolated median."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp("value"), 4).alias("sd"),
        F.round(F.var_samp("value"), 4).alias("variance"),
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("median_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@register("agg_approx_distinct")  # approximate: rows-only check by design
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct — sketch values are engine-specific, so
    no value oracle; correctness is bounded-error vs agg_distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.round(F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)), 2).alias(
            "approx_median_price"
        ),
    )


@register("agg_hll_union")  # sketch bytes are library-specific: rows-only
def agg_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the operation `approx_count_
    distinct` can't do: per-month HLL sketches of the customer key that
    UNION into coarser grains without touching raw data again. This is
    the pre-aggregation contract at 100 TB: materialize small per-
    partition sketches once, answer "distinct users this quarter/year/
    all-time" by merging kilobytes. DataSketches HLL (hll_sketch_agg /
    hll_union_agg, Spark 3.5+) is deterministic for a given input but
    its estimate is library-internal, so the driver check is rows-only;
    the |approx - exact| error bound is pinned against exact
    countDistinct in tests/test_approx_operators.py.

    Output: one row per order month plus one 'total' row whose estimate
    comes from unioning the monthly sketches (never re-scanning orders).
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("grain")
    ).agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    per_month = monthly.select(
        "grain", F.hll_sketch_estimate("sk").cast("bigint").alias("approx_custs")
    )
    total = monthly.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias("approx_custs")
    ).select(F.lit("total").alias("grain"), "approx_custs")
    return per_month.unionAll(total)


@register(
    "window_topk_per_group",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rank
        FROM orders WHERE o_totalprice IS NOT NULL
    ) WHERE rank <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — row_number with unique tiebreak.
    NULL prices are excluded: DuckDB's parallel window places a NULL
    ORDER-BY key nondeterministically (even across runs on identical
    data — reproduced), so no nullable key may reach a window sort."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    return top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        group_cols=["o_custkey"],
        order_cols=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_total
    FROM orders WHERE o_orderdate IS NOT NULL
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum per customer over a total order (date, key) — the
    sequential fold is order-identical in both engines, so exact.
    NULL order dates are excluded (nullable window sort key — see
    window_topk_per_group)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           round(value - lag(value) OVER w, 4) AS delta_prev,
           round(lead(value) OVER w - value, 4) AS delta_next,
           CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS value_rank
    FROM events WHERE value IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/rank analytic functions per user timeline. NULL values
    are excluded: `value` is a rank sort key, and a nullable window
    sort key is nondeterministic in DuckDB (see window_topk_per_group)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta_prev"),
        F.round(F.lead("value").over(w) - F.col("value"), 4).alias("delta_next"),
        F.rank().over(wr).cast("long").alias("value_rank"),
    )


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject (no full sort)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


_SEGMENT_SET = "SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'"
_BIG_SPENDER_SET = "SELECT o_custkey AS k FROM orders WHERE o_totalprice > 450000"


def _setop_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    b = orders.filter(F.col("o_totalprice") > 450000).select(
        F.col("o_custkey").alias("k")
    )
    return a, b


@register("setops_union", oracle=f"{_SEGMENT_SET} UNION {_BIG_SPENDER_SET}")
def setops_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_inputs(spark, sf_dir)
    return a.union(b).distinct()


@register("setops_intersect", oracle=f"{_SEGMENT_SET} INTERSECT {_BIG_SPENDER_SET}")
def setops_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_inputs(spark, sf_dir)
    return a.intersect(b)


@register("setops_except", oracle=f"{_SEGMENT_SET} EXCEPT {_BIG_SPENDER_SET}")
def setops_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_inputs(spark, sf_dir)
    return a.subtract(b)


@register("setops_union_all", oracle=f"{_SEGMENT_SET} UNION ALL {_BIG_SPENDER_SET}")
def setops_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union (no dedup shuffle — pure concatenation of partitions)."""
    a, b = _setop_inputs(spark, sf_dir)
    return a.union(b)


@register(
    "unpivot_linestatus",
    oracle="""
    WITH p AS (
        SELECT l_returnflag,
               round(sum(l_quantity) FILTER (l_linestatus = 'F'), 2) AS qty_f,
               round(sum(l_quantity) FILTER (l_linestatus = 'O'), 2) AS qty_o
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'F' AS l_linestatus, qty_f AS sum_qty FROM p
    UNION ALL
    SELECT l_returnflag, 'O' AS l_linestatus, qty_o AS sum_qty FROM p
    """,
)
def unpivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (stack): wide pivot result back to long form."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return wide.selectExpr(
        "l_returnflag",
        "stack(2, 'F', F, 'O', O) AS (l_linestatus, sum_qty)",
    )


@register(
    "scalar_array_functions",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           round(embedding[1]::DOUBLE, 4) AS first_val,
           round(list_max(embedding::DOUBLE[]), 4) AS max_val,
           round(list_min(embedding::DOUBLE[]), 4) AS min_val,
           round(list_sum(embedding::DOUBLE[]), 4) AS sum_val,
           CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS BIGINT) AS n_positive
    FROM embeddings
    """,
)
def scalar_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar sampler: higher-order functions over array<float>
    (size/element_at/array_max/aggregate/filter — all codegen'd)."""
    emb = load_table(spark, sf_dir, "embeddings")
    arr = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 4).alias("first_val"),
        F.round(F.array_max(arr), 4).alias("max_val"),
        F.round(F.array_min(arr), 4).alias("min_val"),
        F.round(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x), 4).alias("sum_val"),
        F.size(F.filter(arr, lambda x: x > 0)).cast("long").alias("n_positive"),
    )


@register(
    "scalar_map_functions",
    oracle="""
    SELECT event_id,
           2 AS n_keys,
           round(value * 2, 4) AS doubled,
           event_type AS type_from_map
    FROM events
    """,
)
def scalar_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map scalar sampler: create_map/map_keys/element_at. The oracle
    states the expected VALUES directly (DuckDB's map cells don't hash
    comparably) — the Spark side must really round-trip through a map."""
    ev = load_table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("double_value"), (F.col("value") * 2).cast("string"),
        F.lit("type"), F.col("event_type"),
    )
    return ev.select(
        "event_id",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.round(F.element_at(m, "double_value").cast("double"), 4).alias("doubled"),
        F.element_at(m, "type").alias("type_from_map"),
    )


@register(
    "pivot_linestatus",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity) FILTER (l_linestatus = 'F'), 2) AS F,
           round(sum(l_quantity) FILTER (l_linestatus = 'O'), 2) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (explicit value list — no extra distinct-values scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


_SCALAR_SUBQUERY_SQL = """
    SELECT o_orderkey,
           round(o_totalprice / (SELECT avg(o_totalprice) FROM {orders}), 4) AS price_ratio
    FROM {orders}
    WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM {orders})
    """


@register("scalar_subquery_ratio", oracle=_SCALAR_SUBQUERY_SQL.format(orders="orders"))
def scalar_subquery_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subqueries (uncorrelated, in projection and predicate) —
    Catalyst plans them as one-row broadcast joins, no driver round-trip."""
    return spark.sql(_SCALAR_SUBQUERY_SQL, orders=load_table(spark, sf_dir, "orders"))


@register(
    "skew_salted_agg",
    oracle="""
    SELECT event_type,
           count(value) AS n,
           round(sum(value), 2) AS total,
           round(avg(value), 4) AS mean
    FROM events GROUP BY event_type
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (operators/skew.py) must equal the
    plain GROUP BY — the oracle hash-checks the skew-mitigation path.

    Caveat the salting trades on: per-salt partial sums add in a
    different order than a direct sum, so float totals are only equal
    after rounding — which is also true of any repartitioning at scale.
    """
    from hw_kafka_flink_health_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev.select("event_type", "value"),
        ["event_type"],
        {"n": ("count", "value"), "total": ("sum", "value"), "mean": ("avg", "value")},
        n_salts=8,
    )
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("total", 2).alias("total"),
        F.round("mean", 4).alias("mean"),
    )


@register(
    "scalar_string_math",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           CAST(length(p_name) AS BIGINT) AS name_len,
           substr(p_type, 1, 5) AS type_prefix,
           concat_ws('-', p_brand, p_type) AS brand_type,
           replace(p_type, ' ', '_') AS type_snake,
           regexp_extract(p_type, '^(\\w+)', 1) AS type_first_word,
           round(sqrt(p_retailprice), 4) AS price_sqrt,
           round(ln(p_retailprice), 4) AS price_ln,
           abs(p_size - 25) AS size_dev,
           p_partkey % 7 AS key_mod
    FROM part
    """,
)
def scalar_string_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function sampler: string/regex/math, all codegen'd."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_first_word"),
        F.round(F.sqrt("p_retailprice"), 4).alias("price_sqrt"),
        F.round(F.log("p_retailprice"), 4).alias("price_ln"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        (F.col("p_partkey") % 7).alias("key_mod"),
    )


@register(
    "scalar_date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           CAST(day(o_orderdate) AS BIGINT) AS order_day,
           CAST(isodow(o_orderdate) - 1 AS BIGINT) AS order_weekday,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(datediff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS BIGINT) AS days_to_y2k,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
           o_orderdate + INTERVAL 30 DAY AS due_date
    FROM orders
    """,
)
def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar sampler (weekday normalized to 0=Monday)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.weekday("o_orderdate").cast("long").alias("order_weekday"),
        F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz").alias("month_start"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate")).cast("long").alias("days_to_y2k"),
        F.last_day("o_orderdate").cast("timestamp_ntz").alias("month_end"),
        F.expr("o_orderdate + INTERVAL 30 DAY").alias("due_date"),
    )


@register(
    "window_distribution_funcs",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 4) AS pr,
           round(cume_dist() OVER w, 4) AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-family analytic functions (ntile / percent_rank /
    cume_dist) — one window spec, one shuffle on the partition key; the
    tie-break on c_custkey makes every engine's ordering identical."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pr"),
        F.round(F.cume_dist().over(w), 4).alias("cd"),
    )


@register(
    "interval_join_attribution",
    oracle="""
    SELECT p.user_id, c.event_id AS click_id, c.ts AS click_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def interval_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join (streaming/joins.py):
    attribute each purchase to the click(s) up to 30 min before it. The
    equi key (user_id) keeps the join hash-partitionable; the time bounds
    are post-join predicates, never a nested loop."""
    from hw_kafka_flink_health_spark.streaming.joins import interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return interval_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="click_ts",
        upper="30 minutes",
    )


@register(
    "skew_salted_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= DATE '1997-01-01'
    GROUP BY o.o_orderpriority
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salted join (operators/skew.py): the fact side salted,
    the dim side replicated n_salts ways — the hot-key spreading AQE
    can't provide on streaming/non-adaptive paths. The oracle is the
    PLAIN join + agg, so the value-hash proves salting is semantically
    invisible."""
    from hw_kafka_flink_health_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("date")
    ).select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    return (
        salted_join(li, orders, "l_orderkey", n_salts=4)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@register(
    "interval_join_outer_attribution",
    oracle="""
    SELECT p.user_id, c.event_id AS click_id, c.ts AS click_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def interval_join_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer interval join: every purchase survives, attributed to
    the click(s) up to 30 min before it or null-padded when organic. The
    streaming twin (streaming/joins.py how="left_outer") emits the null
    row once the watermark clears the interval bound; this batch form is
    what the oracle hashes. Plan: same hash-partitionable equi join as
    the inner variant — outer-ness changes emission, not partitioning."""
    from hw_kafka_flink_health_spark.streaming.joins import interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return interval_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="click_ts",
        upper="30 minutes",
        how="left_outer",
    )


@register(
    "cohort_retention",
    oracle="""
    WITH first_week AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id
    ), active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    )
    SELECT cohort_week,
           (date_diff('day', cohort_week, week) / 7)::BIGINT AS week_offset,
           count(DISTINCT active.user_id)::BIGINT AS active_users
    FROM active JOIN first_week USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over `events`: users bucketed by the week
    of their first event, then distinct-active counts per (cohort, week
    offset) — the canonical product-analytics rollup. Two aggregations
    shuffle on user_id back-to-back (min-ts and distinct-week reuse the
    same hash partitioning), then a broadcast-size join re-keys into the
    tiny (cohort, offset) grid. Monday-aligned date_trunc('week') matches
    across engines."""
    ev = load_table(spark, sf_dir, "events")
    first_week = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("timestamp_ntz").alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("timestamp_ntz").alias("week")
    ).distinct()
    return (
        active.join(first_week, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("bigint").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "merge_upsert_orders",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice + 1.0 AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT * FROM upd
    UNION ALL
    SELECT o.* FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey)
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO as a batch operator: a 10% update batch (restated
    status + exact price restatement) upserted into `orders` — anti join keeps
    untouched rows, updates win on key collision. The incremental-refresh
    primitive for any continuously-rebuilt corpus table."""
    from hw_kafka_flink_health_spark.operators.relational import merge_upsert

    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    return merge_upsert(orders, updates, ["o_orderkey"])


@register(
    "winsorize_events",
    oracle="""
    WITH p AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS p_lo,
             quantile_cont(value, 0.99) AS p_hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN e.value < p.p_lo OR e.value > p.p_hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           round(avg(least(greatest(e.value, p.p_lo), p.p_hi)), 4)
             AS clipped_mean,
           round(avg(e.value), 4) AS raw_mean
    FROM events e JOIN p USING (event_type)
    GROUP BY e.event_type
    """,
)
def winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization audit: exact p01/p99 clip bounds, clip
    counts, and the mean shift — the outlier-trim pass before windowed
    features feed a model. Exact percentiles so both engines agree;
    the percentile table is broadcast back onto the fact rows."""
    from hw_kafka_flink_health_spark.operators.relational import winsorize

    events = load_table(spark, sf_dir, "events")
    w = winsorize(events, "event_type", "value")
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("was_clipped").cast("bigint").alias("n_clipped"),
        F.round(F.avg("value_clipped"), 4).alias("clipped_mean"),
        F.round(F.avg("value"), 4).alias("raw_mean"),
    )


_PROFILE_COLS = [
    "l_orderkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_returnflag",
    "l_linestatus",
]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS col_name,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_s,
           CAST(max({c}) AS VARCHAR) AS max_s
    FROM lineitem
    """
    for c in _PROFILE_COLS
)


@register("profile_lineitem", oracle=_PROFILE_ORACLE)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling audit (null count, distinct count, min/max per
    column) — the observability pass a pipeline runs on every new data
    drop before trusting it. One two-level aggregation per column
    (groupBy(col).count → tiny final agg), unioned: each branch is a
    single-column pruned scan with full map-side partial aggregation, so
    per-branch shuffle volume is O(distinct values), not O(rows). This is
    ~10× faster than the fused multi-countDistinct form, whose Expand
    plan re-materializes every row once per distinct aggregate (7× the
    scan at 6 columns) — and the gap only widens at 100 TB. The branches
    are independent Spark jobs and overlap on the cluster. DuckDB twin is
    the naive per-column UNION ALL, proving the two-level rewrite exact."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = []
    for c in _PROFILE_COLS:
        g = li.groupBy(c).agg(F.count(F.lit(1)).alias("cnt"))
        parts.append(
            g.agg(
                F.sum(
                    F.when(F.col(c).isNull(), F.col("cnt")).otherwise(F.lit(0))
                )
                .cast("bigint")
                .alias("n_nulls"),
                F.count(F.when(F.col(c).isNotNull(), F.lit(1)))
                .cast("bigint")
                .alias("n_distinct"),
                F.min(c).cast("string").alias("min_s"),
                F.max(c).cast("string").alias("max_s"),
            ).select(
                F.lit(c).alias("col_name"),
                "n_nulls",
                "n_distinct",
                "min_s",
                "max_s",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "histogram_totalprice",
    oracle="""
    WITH b AS (
      SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
    )
    SELECT CAST(CASE WHEN mx > mn
                     THEN least(floor((o_totalprice - mn) / ((mx - mn) / 20.0)), 19)
                     ELSE 0 END
                AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders, b
    GROUP BY 1
    """,
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of order value: bounds from a
    broadcast 1-row min/max agg, bucket assignment as portable floor
    arithmetic (identical FP ops in both engines; no width_bucket
    dependency). Two scans of a single column, one tiny shuffle. The
    mx == mn degenerate case (constant column / single row) is an
    explicit bucket 0 on both sides — an unguarded division is an ANSI
    DIVIDE_BY_ZERO under Spark and an engine-dependent NULL elsewhere."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(20.0)
    bucket = (
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.floor((F.col("o_totalprice") - F.col("mn")) / width), F.lit(19)
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    return (
        orders.join(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT nullif(event_type, 'error') AS k, count(*)::BIGINT AS n_a
      FROM events WHERE user_id % 2 = 0 GROUP BY 1
    ), b AS (
      SELECT nullif(event_type, 'error') AS k, count(*)::BIGINT AS n_b
      FROM events WHERE user_id % 2 = 1 GROUP BY 1
    )
    SELECT a.k, a.n_a, b.n_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): NULL keys MATCH
    each other instead of silently dropping — the semantics ETL needs when
    'unknown' is a real group. Catalyst plans `<=>` as a hash-partitionable
    equi join (EqualNullSafe key), NOT a theta join: same shuffle shape,
    same broadcast eligibility, no NestedLoop regression — which is why
    this is safe at 100 TB where a null-bucket theta join would not be."""
    ev = load_table(spark, sf_dir, "events")
    k = F.nullif(F.col("event_type"), F.lit("error"))
    a = (
        ev.filter(F.col("user_id") % 2 == 0)
        .groupBy(k.alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    )
    b = (
        ev.filter(F.col("user_id") % 2 == 1)
        .groupBy(k.alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(a["k"].alias("k"), "n_a", "n_b")


@register(
    "join_interval_binned",
    oracle="""
    SELECT o_orderkey,
           CAST(count(*) AS BIGINT) AS n_shipped_in_window
    FROM orders JOIN lineitem
      ON l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 7 DAY
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate BETWEEN TIMESTAMP '1995-06-01' AND TIMESTAMP '1995-06-30'
    GROUP BY o_orderkey
    """,
)
def join_interval_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure interval-containment join (no equi key): lineitems shipping
    inside each urgent June-1995 order's 8-day window. Naively this is a
    BroadcastNestedLoopJoin; ``binned_interval_join`` turns it into an
    equi join on a day-bin key (plan-asserted NLJ-free in
    tests/test_plans.py). Dates become day numbers via datediff so the
    binning is integer arithmetic."""
    from hw_kafka_flink_health_spark.operators.relational import binned_interval_join

    epoch = F.lit("1970-01-01").cast("date")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & F.col("o_orderdate").between("1995-06-01", "1995-06-30")
        )
        .select(
            "o_orderkey",
            F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("start_day"),
            (F.datediff(F.col("o_orderdate").cast("date"), epoch) + 7).alias("end_day"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.datediff(F.col("l_shipdate").cast("date"), epoch).alias("ship_day")
    )
    pairs = binned_interval_join(
        li,
        orders,
        point_col="ship_day",
        start_col="start_day",
        end_col="end_day",
        bin_width=8,
    )
    return pairs.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_shipped_in_window")
    )


@register(
    "interval_join_full_attribution",
    oracle="""
    SELECT coalesce(p.user_id, c.user_id) AS user_id,
           c.event_id AS click_id, c.ts AS click_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def interval_join_full_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-outer interval join: every purchase (attributed or organic)
    AND every click (converting or abandoned) survives — the complete
    attribution ledger both marketing sides reconcile against. The key
    column is coalesced across sides so right-unmatched rows keep their
    key. Same hash-partitionable equi join; streaming twin evicts both
    sides' state on the watermark."""
    from hw_kafka_flink_health_spark.streaming.joins import interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return interval_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="click_ts",
        upper="30 minutes",
        how="full_outer",
    )


@register(
    "scalar_try_functions",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_as_int,
           CASE WHEN CAST(floor(value) AS BIGINT) - 5 = 0 THEN NULL
                ELSE CAST(floor(value * 100 + 0.5) AS BIGINT)
                     // (CAST(floor(value) AS BIGINT) - 5) END AS safe_div,
           TRY_CAST(substr(event_type, 1, 1) AS BIGINT) AS bad_cast_null
    FROM events
    """,
)
def scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safety sampler: Spark 4 runs with ANSI semantics
    ON, where a bare cast/divide THROWS on bad input and kills the job at
    row 3 billion — the try_* family (try_cast, try_divide) yields NULL
    instead, which is the only operationally sane contract for dirty
    data at scale (the same discovery the Hypothesis fuzzer made for
    try_to_timestamp in the parse contract). Exercises: string->int
    try_cast on JSON-extracted values, integer try_divide with an
    engineered zero divisor, and a guaranteed-failing cast."""
    ev = load_table(spark, sf_dir, "events")
    fv = F.floor(F.col("value")).cast("long")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("bigint").alias("k_as_int"),
        F.try_divide(
            F.floor(F.col("value") * 100 + 0.5).cast("long"), fv - F.lit(5)
        ).cast("bigint").alias("safe_div"),
        F.substring("event_type", 1, 1).try_cast("bigint").alias("bad_cast_null"),
    )


@register(
    "events_variant_extract",
    oracle="""
    WITH j AS (
      SELECT '{"base": ' || props || ', "meta": {"t": "' || event_type ||
             '", "v2": [' || CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS VARCHAR) || ', ' ||
             CAST(CAST(event_id % 10 AS BIGINT) AS VARCHAR) || ']}}' AS doc
      FROM events
    )
    SELECT doc ->> '$.meta.t' AS event_class,
           count(*) AS n,
           CAST(sum(CAST(doc ->> '$.base.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(sum(CAST(doc ->> '$.meta.v2[0]' AS BIGINT)) AS BIGINT) AS sum_v100,
           CAST(sum(CAST(doc ->> '$.meta.v2[1]' AS BIGINT)) AS BIGINT) AS sum_d
    FROM j GROUP BY 1
    """,
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion via Spark 4's VARIANT type: nested JSON
    (built deterministically around the events.props payload) is parsed
    ONCE into a variant value (`parse_json`), then typed paths come out
    with `variant_get` — the schema-on-read path that replaces per-field
    get_json_object re-parsing. Variant's binary encoding makes repeated
    path extraction O(paths), not O(paths x parse); at 100 TB the
    shredded scan prunes untouched fields. Oracle: DuckDB's JSON `->>`
    paths over the identical document."""
    ev = load_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"base": '),
        F.col("props"),
        F.lit(', "meta": {"t": "'),
        F.col("event_type"),
        F.lit('", "v2": ['),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").cast("string"),
        F.lit(", "),
        (F.col("event_id") % 10).cast("string"),
        F.lit("]}}"),
    )
    v = ev.select(F.parse_json(doc).alias("v"))
    t = v.select(
        F.variant_get("v", "$.meta.t", "string").alias("event_class"),
        F.variant_get("v", "$.base.k", "bigint").alias("k"),
        F.variant_get("v", "$.meta.v2[0]", "bigint").alias("v100"),
        F.variant_get("v", "$.meta.v2[1]", "bigint").alias("d"),
    )
    return t.groupBy("event_class").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.sum("v100").cast("bigint").alias("sum_v100"),
        F.sum("d").cast("bigint").alias("sum_d"),
    )


@register(
    "setops_except_all",
    oracle=f"{_BIG_SPENDER_SET} EXCEPT ALL {_SEGMENT_SET}",
)
def setops_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference (EXCEPT ALL): multiplicities subtract instead of
    collapsing — a customer with three big orders and one BUILDING row
    keeps two copies. Spark's exceptAll plans as a count-tagged
    aggregation + generate, one shuffle — never a per-row loop."""
    a, b = _setop_inputs(spark, sf_dir)
    return b.exceptAll(a)


@register(
    "setops_intersect_all",
    oracle=f"{_BIG_SPENDER_SET} INTERSECT ALL {_SEGMENT_SET}",
)
def setops_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag intersection (INTERSECT ALL): keeps min(multiplicity) copies."""
    a, b = _setop_inputs(spark, sf_dir)
    return b.intersectAll(a)


_LATERAL_TOPN_SQL = """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM {customer} c,
         LATERAL (
           SELECT o_orderkey, o_totalprice FROM {orders}
           WHERE o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey
           LIMIT 2
         ) o
    WHERE c.c_mktsegment = 'MACHINERY'
    """


@register(
    "join_lateral_topn",
    oracle=_LATERAL_TOPN_SQL.format(customer="customer", orders="orders"),
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL-standard top-N-per-group): each
    MACHINERY customer joins its own 2 priciest orders. Catalyst
    DECORRELATES the lateral into a window rank over a single equi join —
    the plan has no per-customer re-execution, so it scales like any
    ranked join (one shuffle on the key), while the SQL stays the natural
    per-row formulation. Oracle: DuckDB executes the identical LATERAL."""
    return spark.sql(
        _LATERAL_TOPN_SQL,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


@register(
    "events_xml_roundtrip",
    oracle="""
    SELECT nullif(event_type, '') AS event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(sum(event_id % 97) AS BIGINT) AS sum_check
    FROM events GROUP BY nullif(event_type, '')
    """,
)
def events_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion via Spark 4's native `from_xml`: each event is
    serialized to an XML record (deterministic string build), parsed back
    with a typed schema, and aggregated — proving the XML path carries
    values losslessly. The oracle computes the same aggregates straight
    from the base table, so any parser drift (type coercion, whitespace,
    escaping) breaks the hash. Parse + aggregate stay in one codegen
    pass; no UDF."""
    ev = load_table(spark, sf_dir, "events")
    # NULL fields serialize as EMPTY elements (coalesce) — a bare concat
    # NULL-propagates the whole record, silently dropping every non-null
    # sibling value (caught by the all-NULL-group-key fuzz sweep). Empty
    # elements parse back as NULL for numeric types; the empty string is
    # mapped back to NULL for the type key. That collapses a GENUINE
    # empty-string event_type into the NULL group — a documented lossy
    # edge of the element encoding — so the oracle applies the identical
    # nullif(event_type, '') collapse (round-5 advice: '' and NULL must
    # land in the same group on BOTH engines, or a planted '' diverges).
    xml = F.concat(
        F.lit("<event><id>"),
        F.coalesce(F.col("event_id").cast("string"), F.lit("")),
        F.lit("</id><type>"),
        F.coalesce(F.col("event_type"), F.lit("")),
        F.lit("</type><cents>"),
        F.coalesce(F.floor(F.col("value") * 100 + 0.5).cast("bigint").cast("string"), F.lit("")),
        F.lit("</cents></event>"),
    )
    parsed = ev.select(
        F.from_xml(xml, "id BIGINT, type STRING, cents BIGINT").alias("x")
    )
    return parsed.groupBy(
        F.nullif(F.col("x.type"), F.lit("")).alias("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x.cents").cast("bigint").alias("sum_cents"),
        F.sum(F.col("x.id") % 97).cast("bigint").alias("sum_check"),
    )


@register("approx_overlap_hll")  # sketch-based: rows-only by design
def approx_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from HLL sketches alone: |A∩B| via
    inclusion-exclusion (|A| + |B| − |A∪B|) over per-segment user
    sketches — the cross-segment dedup question ("how many clickers also
    purchased?") answered WITHOUT re-scanning events per pair, because
    union-agg merges the kilobyte sketches of already-built segments.
    One scan builds all per-type sketches; every pairwise overlap then
    derives from sketch algebra. Error bound vs the exact intersection
    pinned in tests/test_approx_operators.py."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    a = sk.select(F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"))
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    est = lambda c: F.hll_sketch_estimate(c).cast("bigint")  # noqa: E731
    return (
        pairs.select(
            "type_a",
            "type_b",
            est("sk_a").alias("n_a"),
            est("sk_b").alias("n_b"),
            F.hll_sketch_estimate(
                F.hll_union(F.col("sk_a"), F.col("sk_b"))
            ).cast("bigint").alias("n_union"),
        )
        .withColumn(
            "n_overlap_est",
            F.greatest(F.col("n_a") + F.col("n_b") - F.col("n_union"), F.lit(0)),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "agg_mode_exact",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_linestatus,
             CAST(l_quantity AS BIGINT) AS qty, count(*)::BIGINT AS cnt
      FROM lineitem
      WHERE l_quantity IS NOT NULL
      GROUP BY 1, 2, 3
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY l_returnflag, l_linestatus
               ORDER BY cnt DESC, qty) AS rn
      FROM counts
    )
    SELECT l_returnflag, l_linestatus, qty AS mode_qty, cnt AS mode_count
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode with a DETERMINISTIC tie rule (highest count,
    then smallest value) — the builtin `mode()` aggregate leaves ties
    engine/partition-dependent, which is exactly what a reproducible
    pipeline cannot have. Two-level shape: value-level counts (map-side
    combined — the shuffle carries one row per distinct value, not per
    row) then a top-1 window per group; both shuffles are on tiny
    aggregated tables. NULL values carry no mode vote."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.filter(F.col("l_quantity").isNotNull())
        .groupBy(
            "l_returnflag",
            "l_linestatus",
            F.floor(F.col("l_quantity")).cast("long").alias("qty"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("l_returnflag", "l_linestatus").orderBy(
        F.col("cnt").desc(), F.col("qty")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("qty").alias("mode_qty"),
            F.col("cnt").alias("mode_count"),
        )
    )


@register(
    "approx_jaccard_kmv",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM events WHERE user_id IS NOT NULL
    ), r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ), kmv AS (
      SELECT event_type, list_sort(list(hv)) AS ks
      FROM r WHERE rn <= 64 GROUP BY event_type
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             list_sort(list_distinct(a.ks || b.ks))[1:64] AS uni,
             list_intersect(a.ks, b.ks) AS both_ks
      FROM kmv a JOIN kmv b ON a.event_type < b.event_type
    )
    SELECT type_a, type_b,
           CAST(len(uni) AS BIGINT) AS k_used,
           CAST(len(list_intersect(uni, both_ks)) AS BIGINT) AS n_both,
           CAST(floor(len(list_intersect(uni, both_ks)) * 1000000.0
                      / nullif(len(uni), 0)) AS BIGINT) AS jaccard_micro
    FROM pairs
    """,
)
def approx_jaccard_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience Jaccard similarity from KMV sketches — the
    value-oracled twin of approx_overlap_hll. Per segment keep the k=64
    smallest portable md5 user-hashes; for a pair, the k smallest of the
    UNION of both sketches is a uniform sample of A∪B, and the fraction
    of that sample present in BOTH sketches is the classic KMV Jaccard
    estimator. Because the 'randomness' is the engine-portable md5 tier,
    the estimate is bit-for-bit reproducible and fully value-hash
    checked — the property HLL's opaque binary sketch can never give.

    Scale: the distinct-(segment, hash) reduction is one exchange; the
    k-smallest cut is a per-segment window over distinct hashes; after
    that every pairwise comparison is array algebra on 64-element lists
    (kilobytes per segment, broadcastable at any corpus size). Sketches
    union mergeably — re-take the k smallest — so segment sketches
    build once and answer every pair."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            .alias("hv"),
        )
        .distinct()
    )
    r = h.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("event_type").orderBy("hv")),
    ).filter(F.col("rn") <= 64)
    kmv = r.groupBy("event_type").agg(
        F.array_sort(F.collect_list("hv")).alias("ks")
    )
    a = kmv.select(F.col("event_type").alias("type_a"), F.col("ks").alias("ka"))
    b = kmv.select(F.col("event_type").alias("type_b"), F.col("ks").alias("kb"))
    pairs = a.join(b, F.col("type_a") < F.col("type_b")).select(
        "type_a",
        "type_b",
        F.slice(F.array_sort(F.array_union("ka", "kb")), 1, 64).alias("uni"),
        F.array_intersect("ka", "kb").alias("both_ks"),
    )
    n_both = F.size(F.array_intersect(F.col("uni"), F.col("both_ks")))
    k_used = F.size(F.col("uni"))
    return pairs.select(
        "type_a",
        "type_b",
        k_used.cast("bigint").alias("k_used"),
        n_both.cast("bigint").alias("n_both"),
        F.floor(F.try_divide(n_both * 1000000.0, k_used))
        .cast("bigint")
        .alias("jaccard_micro"),
    )


@register(
    "join_relational_division",
    oracle="""
    WITH nb AS (
      SELECT CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands FROM part
    ), cb AS (
      SELECT o_custkey,
             CAST(count(DISTINCT p_brand) AS BIGINT) AS brands_bought,
             CAST(count(*) AS BIGINT) AS n_items
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN part ON l_partkey = p_partkey
      GROUP BY o_custkey
    )
    SELECT o_custkey, brands_bought, n_items
    FROM cb, nb
    WHERE brands_bought = n_brands
    """,
)
def join_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION (Codd's eighth operator — 'the suppliers who
    supply ALL parts' classic, here: customers who have bought parts of
    EVERY brand in the catalog), expressed by the set-cover counting
    rewrite: count distinct matched divisors per dividend group and keep
    groups matching the divisor cardinality. This is the scalable
    formulation — the naive NOT EXISTS(EXCEPT) double-negative builds a
    customers x brands cross product, while this is one 3-way equi-join
    (fact-sized, key-partitioned) plus one distinct-count aggregate and
    a broadcast 1-row divisor count. Returns each qualifying customer
    with its brand coverage and item count."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    nb = part.agg(F.countDistinct("p_brand").cast("long").alias("n_brands"))
    cb = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("o_custkey")
        .agg(
            F.countDistinct("p_brand").cast("long").alias("brands_bought"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )
    return cb.crossJoin(F.broadcast(nb)).filter(
        F.col("brands_bought") == F.col("n_brands")
    ).select("o_custkey", "brands_bought", "n_items")


@register(
    "skyline_suppliers_2d",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey, CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                             AS BIGINT) AS y
      FROM lineitem GROUP BY l_suppkey
    ), pts0 AS (
      SELECT s.s_suppkey,
             CAST(floor(s.s_acctbal * 100 + 0.5) AS BIGINT) AS x,
             CAST(coalesce(r.y, 0) AS BIGINT) AS y
      FROM supplier s LEFT JOIN rev r ON s.s_suppkey = r.l_suppkey
      WHERE s.s_acctbal IS NOT NULL
    ), pts AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(min(s_suppkey) AS BIGINT) AS exemplar
      FROM pts0 GROUP BY x, y
    ), swept AS (
      SELECT x, y, n_suppliers, exemplar,
             max(y) OVER (ORDER BY x DESC, y DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_y
      FROM pts
    )
    SELECT x AS acctbal_cents, y AS revenue_cents, n_suppliers, exemplar
    FROM swept WHERE prev_max_y IS NULL OR y > prev_max_y
    """,
)
def skyline_suppliers_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto-frontier) operator: the suppliers not
    strictly dominated on (account balance, lifetime revenue) — the
    classic 'skyline query' from the DB literature, solved by the exact
    single-pass sweep: reduce to DISTINCT (x, y) points, sort by x DESC
    then y DESC, and keep a point iff its y strictly exceeds the running
    max of all preceding (higher-x) points. Distinct-point reduction
    first makes coincident points (ties fixture) correctly mutual-non-
    dominating survivors; coordinates are exact integer cents. The
    sweep's running max rides `global_prefix_scan(op=max, exclusive)` —
    a range shuffle + bounded carries, NOT a single-partition ordered
    window: the distinct-point grain is supplier-cardinality, which
    grows linearly with SF (measured 10/100/1000 at the three test SFs),
    so the r11 whitelist entry calling it bounded was wrong (VERDICT r11
    #2 — rewired r12 instead of probed)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("y")
    )
    pts0 = (
        sup.filter(F.col("s_acctbal").isNotNull())
        .join(rev, sup["s_suppkey"] == rev["l_suppkey"], "left")
        .select(
            "s_suppkey",
            F.floor(F.col("s_acctbal") * 100 + 0.5).cast("long").alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).cast("long").alias("y"),
        )
    )
    pts = pts0.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.min("s_suppkey").cast("long").alias("exemplar"),
    )
    from hw_kafka_flink_health_spark.operators.relational import (
        global_prefix_scan,
    )

    swept = global_prefix_scan(
        pts,
        ["y"],
        [F.col("x").desc(), F.col("y").desc()],
        ops=["max"],
        out_cols=["prev_max_y"],
        exclusive=True,
    )
    return swept.filter(
        F.col("prev_max_y").isNull() | (F.col("y") > F.col("prev_max_y"))
    ).select(
        F.col("x").alias("acctbal_cents"),
        F.col("y").alias("revenue_cents"),
        "n_suppliers",
        "exemplar",
    )


@register(
    "format_orc_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders GROUP BY o_orderpriority
    """,
)
def format_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: write orders through Spark's built-in columnar ORC
    writer (zlib, dictionary encoding), read it back with the vectorized
    ORC reader, and aggregate — completing the format matrix next to
    parquet (native), JSON/CSV (robust readers), and XML (from_xml).
    The oracle computes the same aggregates from the base parquet, so
    any type drift through the ORC encode/decode (timestamps, decimals,
    dictionary pages) breaks the value hash. The write is scratch-dir
    ingest cost; the read demonstrates that predicate pushdown and
    column pruning work the same against ORC scans — at 100 TB, format
    choice should be an IO-codec decision, never a semantics one."""
    import os

    from hw_kafka_flink_health_spark.operators.versioned import scratch_table_dir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = os.path.join(scratch_table_dir("orc_rt_"), "orders_orc")
    orders.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )


@register(
    "join_asof_tolerance",
    oracle="""
    SELECT p.event_id, p.user_id,
           epoch_ms(CAST(p.ts AS TIMESTAMP)) AS purchase_ms,
           CASE WHEN c.ts IS NOT NULL
                 AND epoch_us(CAST(p.ts AS TIMESTAMP))
                     - epoch_us(CAST(c.ts AS TIMESTAMP)) <= 3600000000
                THEN epoch_ms(CAST(c.ts AS TIMESTAMP)) END AS last_click_ms
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS BOUND (pandas merge_asof
    `tolerance`): each purchase gets the latest prior click only if it
    happened within the last hour — the freshness contract every
    feature-store point-in-time join carries (a day-old click must not
    leak into a 'recent intent' feature). The tolerance is a column
    mask over the SAME single-shuffle union+window plan as `join_asof`
    (no extra exchange; exact in microseconds); the oracle applies the
    identical bound on top of DuckDB's native ASOF JOIN. Semantics
    pinned against pandas in tests/test_asof_directions.py."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        ts_col="ts",
        value_cols=[],
        right_ts_alias="click_ts",
        tolerance_seconds=3600,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("purchase_ms"),
        F.unix_millis(F.col("click_ts").cast("timestamp")).alias("last_click_ms"),
    )
