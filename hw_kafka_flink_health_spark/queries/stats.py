"""Statistics & reshaping queries: exact heavy hitters, PIVOT, exact
per-group medians, deterministic weighted sampling.

Extension surface (SURVEY.md §2.C): none of these exist in the reference
(its only aggregation is a toy alert count, SURVEY.md §2.B) — they are the
frequency/report/sampling layer a 100 TB corpus pipeline runs daily, each
expressed as a pure Catalyst plan with the shuffle budget called out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.frequency import heavy_hitters
from hw_kafka_flink_health_spark.operators.mlprep import hash_unit
from hw_kafka_flink_health_spark.operators.relational import distributed_ntile
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table


@register(
    "heavy_hitter_tokens",
    oracle="""
    SELECT key, count(*)::BIGINT AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS key FROM documents)
    WHERE key <> ''
    GROUP BY key
    HAVING count(*) >= 100
    ORDER BY cnt DESC, key
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens occurring >= 100 times corpus-wide, with EXACT counts, via
    the two-phase candidate prune (`operators/frequency.py`): local
    partial counts discard the singleton long tail before any global
    per-key row exists, then only surviving candidates are recounted
    exactly. At token scale (billions distinct, ~all rare) this shuffles
    orders of magnitude fewer rows than the oracle's one-shot HAVING —
    same answer, pinned here by the value hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return heavy_hitters(toks, "tok", threshold=100)


@register(
    "pivot_daily_event_type",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           count(*) FILTER (event_type = 'view')::BIGINT AS view,
           count(*) FILTER (event_type = 'click')::BIGINT AS click,
           count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase,
           count(*) FILTER (event_type = 'error')::BIGINT AS error
    FROM events
    GROUP BY 1
    """,
)
def pivot_daily_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long->wide reshaping with the PIVOT operator: daily counts per
    event type as COLUMNS. The pivot values are DECLARED (four known
    types; 'signup' deliberately excluded and pruned), which keeps this
    a single pass: declared-value pivot compiles into one aggregate with
    conditional partials — the same plan the oracle's FILTER aggregates
    produce — with NO distinct-values pre-query and no second shuffle.
    (An undeclared pivot runs a distinct scan first to learn the columns
    — never do that at 100 TB.) Counts coalesce to 0 so absent
    (day, type) combos match the FILTER-count semantics."""
    ev = load_table(spark, sf_dir, "events")
    types = ["view", "click", "purchase", "error"]
    wide = (
        ev.groupBy(F.to_date("ts").cast("timestamp").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types]
    )


@register(
    "median_value_by_type",
    oracle="""
    SELECT event_type,
           round(median(value), 4) AS median_value,
           count(*)::BIGINT AS cnt
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)
def median_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median without percentile_approx: rank rows within
    each group (one hash exchange on event_type shared by both window
    passes), keep the middle one or two, average them — DuckDB
    `median`'s interpolating semantics for even counts. Group count
    rides the same window, so the whole query is ONE shuffle. At 100 TB
    groupwise exact medians this way beat a global sort by the usual
    partition-parallel margin; for thousands of groups the rank windows
    parallelize per group."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    wo = Window.partitionBy("event_type").orderBy(F.col("value").asc(), F.col("event_id").asc())
    wall = Window.partitionBy("event_type")
    ranked = (
        ev.select("event_type", "value", "event_id")
        .withColumn("rn", F.row_number().over(wo))
        .withColumn("cnt", F.count(F.lit(1)).over(wall))
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
        | (F.col("rn") == F.ceil((F.col("cnt") + 1) / 2))
    )
    return mid.groupBy("event_type").agg(
        F.round(F.avg("value"), 4).alias("median_value"),
        F.max("cnt").cast("long").alias("cnt"),
    )


@register(
    "mlprep_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ln(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'ws1')), 1, 8)) AS BIGINT)
                / 4294967296.0) / n_chars AS es_key
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, round(es_key, 6) AS es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT 50
    """,
)
def mlprep_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, deterministic: the
    Efraimidis–Spirakis reservoir as a QUERY. Each row draws its uniform
    u from the portable md5 hash of its id (`hash_unit` — same
    expression DuckDB runs, so membership is reproducible everywhere
    forever) and gets key ln(u)/w; the top-n keys ARE a weighted sample
    without replacement. n_chars is the weight: longer docs
    proportionally likelier. One pass, then a top-n (TakeOrderedAndProject
    — per-partition heaps, no global sort); no state, no membership
    table, retry-safe — the same properties the deterministic hash split
    guarantees, extended to weighted draws."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    key = F.log(hash_unit(F.col("doc_id"), salt="ws1")) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.round(key, 6).alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
        .limit(50)
    )


@register(
    "privacy_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(floor(value / 50.0) AS BIGINT) AS value_band,
             CAST(count(*) AS BIGINT) AS group_size,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type, epoch_ms(hr) AS hour_ms, value_band, group_size, n_users,
           CASE WHEN group_size < 5 THEN 1 ELSE 0 END AS below_k
    FROM g
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit over quasi-identifiers (event_type, hour,
    coarse value band): every equivalence class with fewer than k=5 rows
    is a re-identification risk the release pipeline must suppress or
    generalize. One hash aggregation on the quasi-identifier tuple —
    the privacy twin of the quality audits, and the check a training
    corpus with user-derived rows runs before export."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").alias("hr"),
        F.floor(F.col("value") / 50.0).cast("long").alias("value_band"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    return g.select(
        "event_type",
        F.unix_millis(F.col("hr")).alias("hour_ms"),
        "value_band",
        "group_size",
        "n_users",
        F.when(F.col("group_size") < 5, 1).otherwise(0).alias("below_k"),
    )


@register(
    "histogram_equidepth_totalprice",
    oracle="""
    WITH b AS (
      SELECT o_totalprice,
             ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders WHERE o_totalprice IS NOT NULL
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM b GROUP BY bucket
    """,
)
def histogram_equidepth_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (8 buckets of equal row count) — the
    boundary source CBO range stats and range-partitioners use, vs the
    equi-width histogram elsewhere in the catalog. ntile needs a total
    order: the o_orderkey tie-break makes bucket assignment exact and
    engine-portable at boundary duplicates. Scale note: the ntile runs
    on `distributed_ntile` (operators/relational.py) — one range
    shuffle + per-partition rank + bounded offset broadcast — so no
    single-partition window ever sees the order rows; the input here is
    the raw fact table, the exact shape that killed the builtin
    `ntile().over(Window.orderBy(...))` plan at 100×."""
    # NULL prices are excluded: the sort key must be non-null or the
    # engines' opposite NULL-ordering defaults (Spark FIRST, DuckDB
    # LAST) flip every bucket assignment (nulls fuzz finding).
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    b = distributed_ntile(
        orders.select("o_totalprice", "o_orderkey"),
        8,
        ["o_totalprice", "o_orderkey"],
        out_col="bucket",
    )
    return b.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "audit_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS edge,
           (SELECT count(*) FROM lineitem) AS n_rows,
           (SELECT count(*) FROM lineitem l ANTI JOIN orders o
             ON l.l_orderkey = o.o_orderkey) AS n_orphans
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l ANTI JOIN part p
             ON l.l_partkey = p.p_partkey)
    UNION ALL
    SELECT 'lineitem->supplier',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l ANTI JOIN supplier s
             ON l.l_suppkey = s.s_suppkey)
    UNION ALL
    SELECT 'orders->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o ANTI JOIN customer c
             ON o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'customer->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c ANTI JOIN nation n
             ON c.c_nationkey = n.n_nationkey)
    UNION ALL
    SELECT 'nation->region',
           (SELECT count(*) FROM nation),
           (SELECT count(*) FROM nation n ANTI JOIN region r
             ON n.n_regionkey = r.r_regionkey)
    """,
)
def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema — the referential
    gate run before any pipeline trusts its joins (an orphan silently
    vanishes from every inner join downstream). Each edge is one LEFT ANTI
    join (dims broadcast; the fact side streams map-side) plus a count;
    the six audits union into one DAG so the driver triggers a single
    job. At 100 TB each anti join is the same shape as the query it
    protects — if the audit is too slow, so was the join."""
    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    out = None
    for fact_name, fk, dim_name, pk in edges:
        fact = load_table(spark, sf_dir, fact_name)
        dim = load_table(spark, sf_dir, dim_name)
        edge_label = f"{fact_name}->{dim_name}"
        rows = fact.agg(F.count(F.lit(1)).alias("n_rows"))
        orphans = fact.join(dim, F.col(fk) == F.col(pk), "left_anti").agg(
            F.count(F.lit(1)).alias("n_orphans")
        )
        one = (
            rows.crossJoin(orphans)
            .select(
                F.lit(edge_label).alias("edge"),
                F.col("n_rows").cast("bigint").alias("n_rows"),
                F.col("n_orphans").cast("bigint").alias("n_orphans"),
            )
        )
        out = one if out is None else out.unionAll(one)
    return out


@register(
    "agg_percentile_cont_disc",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50_cont,
           round(quantile_cont(value, 0.9), 4) AS p90_cont,
           round(quantile_disc(value, 0.5), 4) AS p50_disc,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def agg_percentile_cont_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard percentile semantics, both flavors: PERCENTILE_CONT
    (linear interpolation between adjacent ranks) and PERCENTILE_DISC
    (an actual data value at the ceiling rank). Spark's exact
    `percentile()` IS the CONT definition; DISC comes out of the same
    sorted-group machinery via `percentile_disc`-equivalent expression.
    Exact per-group sorts are confined to each group's partition — the
    same single-shuffle shape as `median_value_by_type`."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50_cont"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90_cont"),
        F.round(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"), 4
        ).alias("p50_disc"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


@register(
    "skew_key_report",
    oracle="""
    WITH kc AS (
      SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ), r AS (
      SELECT key, c,
             row_number() OVER (ORDER BY c DESC, key) AS rk,
             sum(c) OVER () AS total,
             count(*) OVER () AS n_keys,
             max(c) OVER () AS max_c
      FROM kc
    )
    SELECT CAST(any_value(total) AS BIGINT) AS n_rows,
           CAST(any_value(n_keys) AS BIGINT) AS n_keys,
           round(any_value(max_c) * 1.0 * any_value(n_keys) / any_value(total), 4)
             AS top1_over_mean,
           round(sum(CASE WHEN rk <= 10 THEN c ELSE 0 END) * 1.0 / any_value(total), 4)
             AS top10_share
    FROM r
    """,
)
def skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the pre-flight check that decides
    between a plain shuffle join, AQE skew splitting, and explicit
    salting (operators/skew.py): per-key counts, then hot-key share
    metrics (top-1 count over the mean, top-10 share of all rows). One
    hash agg over the fact; totals come from a second agg of the per-key
    table and the top-10 via limit (TakeOrderedAndProject) — NO global
    window anywhere, so the report scales to billions of distinct keys
    (the per-key table never collapses to one task). A top1_over_mean
    near 1 means uniform keys; orders of magnitude above 1 is the
    salting trigger."""
    li = load_table(spark, sf_dir, "lineitem")
    kc = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = kc.agg(
        F.sum("c").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("c").cast("bigint").alias("max_c"),
    )
    top10 = (
        kc.orderBy(F.desc("c"), F.asc("key"))
        .limit(10)
        .agg(F.sum("c").cast("bigint").alias("top10_c"))
    )
    return totals.crossJoin(top10).select(
        F.col("total").alias("n_rows"),
        "n_keys",
        F.round(F.col("max_c") * F.lit(1.0) * F.col("n_keys") / F.col("total"), 4).alias(
            "top1_over_mean"
        ),
        F.round(F.col("top10_c") * 1.0 / F.col("total"), 4).alias("top10_share"),
    )


@register(
    "agg_corr_covar_skew",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
           -- DuckDB's skewness is the bias-corrected SAMPLE G1; Spark's is
           -- the population g1 = G1*(n-2)/sqrt(n*(n-1)). kurtosis_pop matches
           -- Spark's population excess kurtosis directly. n < 3 pinned to
           -- NULL on both sides: the sample G1 is undefined there while the
           -- population form degenerates to 0 — an engine-dependent answer.
           CASE WHEN count(l_quantity) >= 3 THEN
             round(skewness(l_quantity) * (count(l_quantity) - 2)
                   / sqrt(count(l_quantity) * (count(l_quantity) - 1.0)), 6)
           END AS skew_qty,
           round(kurtosis_pop(l_quantity), 6) AS kurt_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_covar_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate + higher-moment statistical aggregates (corr, sample
    covariance, skewness, excess kurtosis) per group — the full
    profiling battery beyond agg_stats's second moments. All are
    single-pass algebraic aggregates (partial moment sums merge
    map-side), so the battery costs one shuffle like a count."""
    li = load_table(spark, sf_dir, "lineitem")
    # corr as try_divide(covar, sx*sy): Spark 4's builtin corr THROWS
    # DIVIDE_BY_ZERO under ANSI when either variance is zero (constant
    # column), where SQL engines yield NULL — same moments, same value,
    # NULL on degenerate groups (caught by the all-ties fuzz dataset).
    # The stddevs use PAIRWISE deletion (rows where BOTH are non-null),
    # matching SQL corr's semantics when only one side is NULL.
    both = F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.try_divide(
                F.covar_samp("l_quantity", "l_extendedprice"),
                F.stddev_samp(F.when(both, F.col("l_quantity")))
                * F.stddev_samp(F.when(both, F.col("l_extendedprice"))),
            ),
            6,
        ).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        # n < 3 NON-NULL values (count(col), not count(*) — a group with 3
        # rows but 2 values is still degenerate): sample skewness
        # undefined, population form degenerates to 0 — pin to NULL in
        # both engines (see oracle comment)
        F.round(
            F.when(F.count("l_quantity") >= 3, F.skewness("l_quantity")), 6
        ).alias("skew_qty"),
        F.round(F.kurtosis("l_quantity"), 6).alias("kurt_qty"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


_FILTER_AGG_SQL = """
    SELECT l_returnflag,
           CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk,
           CAST(count(*) FILTER (WHERE l_discount = 0) AS BIGINT) AS n_undiscounted,
           round(sum(l_extendedprice) FILTER (WHERE l_tax = 0), 2) AS taxfree_revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM {lineitem} GROUP BY l_returnflag
"""


@register("agg_filter_clause", oracle=_FILTER_AGG_SQL.format(lineitem="lineitem"))
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard FILTER clause on aggregates — several differently-
    conditioned aggregates in ONE grouped pass (the idiom that replaces
    N self-joins or CASE pyramids). Catalyst compiles each FILTER into a
    conditional partial aggregate, so the fact table is scanned and
    shuffled once regardless of how many filtered metrics ride along.
    The oracle is the IDENTICAL SQL text run by DuckDB."""
    return spark.sql(_FILTER_AGG_SQL, lineitem=load_table(spark, sf_dir, "lineitem"))


@register(
    "agg_rollup_grouping_id",
    oracle="""
    SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
           coalesce(l_linestatus, '<all>') AS l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
             AS grouping_level,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING provenance: grouping_id distinguishes a real
    ('F','O') detail row from the per-flag subtotal and the grand total —
    the disambiguation a reporting consumer needs when NULL is also a
    legitimate data value. The rollup is one Expand + single hash agg;
    grouping_id is free metadata from the Expand, not extra computation."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("grouping_level"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "grouping_level",
            "n",
            "sum_qty",
        )
    )


@register(
    "dq_expectations_report",
    oracle="""
    SELECT 'qty_in_range' AS rule,
           CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT) AS violations,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    UNION ALL
    SELECT 'price_positive',
           CAST(count(*) FILTER (WHERE l_extendedprice <= 0) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'flag_in_domain',
           CAST(count(*) FILTER (WHERE l_returnflag NOT IN ('A', 'N', 'R')) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'ship_before_2000',
           CAST(count(*) FILTER (WHERE l_shipdate >= DATE '2000-01-01') AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'discount_fraction',
           CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    """,
)
def dq_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract expectations: each named rule becomes a
    FILTER-clause conditional count, so the WHOLE suite rides one scan
    and one 1-row aggregate — adding a rule adds a counter, never a pass.
    (The enforcement twin that diverts offending rows is
    operators/audit.py:split_by_constraints; this is the monitoring
    report a pipeline publishes every run.)"""
    li = load_table(spark, sf_dir, "lineitem")
    rules = [
        ("qty_in_range", (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
        ("price_positive", F.col("l_extendedprice") <= 0),
        ("flag_in_domain", ~F.col("l_returnflag").isin("A", "N", "R")),
        ("ship_before_2000", F.col("l_shipdate") >= F.lit("2000-01-01").cast("date")),
        ("discount_fraction", (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)),
    ]
    agg = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        *[
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(f"v_{name}")
            for name, cond in rules
        ],
    )
    stacked = agg.select(
        F.expr(
            "stack({n}, {args}) AS (rule, violations)".format(
                n=len(rules),
                args=", ".join(f"'{name}', v_{name}" for name, _ in rules),
            )
        ),
        "n_rows",
    )
    return stacked.select("rule", "violations", "n_rows")


@register(
    "approx_topk_cms",
    oracle="""
    WITH raw AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), t AS (SELECT tok FROM raw WHERE tok <> ''),
    sk AS (
      SELECT d.range AS seed,
             ('0x' || substr(md5(tok || '|' || CAST(d.range AS VARCHAR)), 1, 15))::BIGINT
               % 1024 AS bucket,
             count(*)::BIGINT AS cnt
      FROM t CROSS JOIN range(4) d GROUP BY 1, 2
    ), cand AS (
      SELECT tok AS key FROM t GROUP BY 1 HAVING count(*) >= 64
    ), probes AS (
      SELECT c.key, d.range AS seed,
             ('0x' || substr(md5(c.key || '|' || CAST(d.range AS VARCHAR)), 1, 15))::BIGINT
               % 1024 AS bucket
      FROM cand c CROSS JOIN range(4) d
    )
    SELECT key, est FROM (
      SELECT p.key, CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS est
      FROM probes p LEFT JOIN sk s USING (seed, bucket)
      GROUP BY 1
    ) ORDER BY est DESC, key LIMIT 15
    """,
)
def approx_topk_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate token top-k from a count-min sketch
    (`operators/frequency.py:cms_build/cms_estimate`): the sketch is a
    constant-size (4×1024) counter table whatever the vocabulary, so its
    shuffle never scales with distinct keys and per-hour sketches merge
    into per-day by counter addition (`cms_merge`, exactly associative —
    pinned in tests/test_stats.py). Estimates carry the one-sided CMS
    error (est >= true, bounded excess — also pinned by test).

    Value-oracled via the md5 hash tier (`_seeded_hash`): the counter
    table, the probe buckets, and therefore every estimate are replayed
    bit-for-bit by DuckDB — the same conversion that oracled SimHash and
    MinHash. The probed candidate set here is the exact >= 64 token set
    (a plain HAVING both engines agree on); the partition-local
    Misra-Gries candidate prune — whose output legitimately depends on
    the physical partitioning — stays demonstrated and oracled in
    `heavy_hitter_tokens`. The xxhash64 tier remains the production
    default (JVM codegen, no md5 cost).

    Plan shape (round-7 re-profile of the round-5 candidate-floor fix):
    ONE token groupBy feeds both the sketch and the candidate set — CMS
    is linear, so building from (token, count) pairs is bit-identical to
    building from raw occurrences (`cms_build(weight=...)`), and the 4
    md5 hashes price per DISTINCT token, not per occurrence. The counts
    table is localCheckpoint'd because it has two consumers (Catalyst
    does not share unmaterialized subplans)."""
    from hw_kafka_flink_health_spark.operators.frequency import (
        cms_build,
        cms_estimate,
    )
    from hw_kafka_flink_health_spark.sources.files import rebalance_if_narrow

    docs = rebalance_if_narrow(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    counts = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    sketch = cms_build(counts, "tok", hash="md5", weight="c")
    MIN_FREQ = 64
    candidates = counts.filter(F.col("c") >= MIN_FREQ).select(
        F.col("tok").alias("key")
    )
    return (
        cms_estimate(sketch, candidates, hash="md5")
        .orderBy(F.col("est").desc(), F.col("key").asc())
        .limit(15)
        .select("key", "est")
    )


@register(
    "join_skew_diagnostics",
    oracle="""
    WITH k AS (
      SELECT l_partkey, count(*)::BIGINT AS n_rows,
             (count(*) * count(*))::BIGINT AS out_rows
      FROM lineitem GROUP BY 1
    ), tot AS (SELECT sum(out_rows) AS total_out FROM k)
    SELECT l_partkey, n_rows, out_rows,
           round(out_rows / total_out * 100, 4) AS pct_of_join
    FROM k CROSS JOIN tot
    ORDER BY out_rows DESC, l_partkey
    LIMIT 10
    """,
)
def join_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join blow-up pre-flight: before running a self-equi-join on
    l_partkey, compute EXACTLY what each key would contribute to the
    output (n_left × n_right = n² here) and each key's share of the total
    — the guardrail report a 100 TB pipeline runs to decide between a
    plain shuffle join, AQE skew split, or salting. One
    map-side-combined aggregate + a broadcast 1-row total; the join
    itself never runs. The same two-groupBy shape generalizes to any
    A⋈B by aggregating each side separately and joining the (tiny)
    per-key count tables."""
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    k = k.withColumn("out_rows", (F.col("n_rows") * F.col("n_rows")).cast("long"))
    tot = k.agg(F.sum("out_rows").alias("total_out"))
    return (
        k.crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "n_rows",
            "out_rows",
            F.round(F.col("out_rows") / F.col("total_out") * 100, 4).alias(
                "pct_of_join"
            ),
        )
        .orderBy(F.col("out_rows").desc(), F.col("l_partkey"))
        .limit(10)
    )


@register(
    "privacy_l_diversity",
    oracle="""
    WITH per_user AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(floor(value / 50.0) AS BIGINT) AS value_band,
             user_id, count(*)::BIGINT AS c
      FROM events GROUP BY 1, 2, 3, 4
    ), withp AS (
      SELECT *, (c * 1.0 / sum(c) OVER (PARTITION BY event_type, hr, value_band))
               AS p
      FROM per_user
    ), g AS (
      SELECT event_type, hr, value_band,
             count(*)::BIGINT AS n_users,
             sum(c)::BIGINT AS group_size,
             round(-sum(p * ln(p)), 4) + 0.0 AS entropy
      FROM withp
      GROUP BY 1, 2, 3
    )
    SELECT event_type, epoch_ms(hr) AS hour_ms, value_band, group_size, n_users,
           entropy,
           CASE WHEN n_users < 3 THEN 1 ELSE 0 END AS below_l
    FROM g
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-diversity audit — k-anonymity's stronger sibling: a class whose
    rows all belong to ONE user is re-identifiable however large it is.
    Per quasi-identifier class, count distinct sensitive values (users)
    and the entropy of their distribution (entropy l-diversity). Two
    stacked hash aggregations — (QI, user) then QI — both map-side
    combined; the entropy sum rides the second agg via a window over the
    per-user counts, never a re-scan of events."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").alias("hr"),
        F.floor(F.col("value") / 50.0).cast("long").alias("value_band"),
        "user_id",
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("event_type", "hr", "value_band")
    p = F.col("c") * 1.0 / F.sum("c").over(w)
    per_user = per_user.withColumn("plogp", p * F.log(p))
    g = per_user.groupBy("event_type", "hr", "value_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("c").cast("long").alias("group_size"),
        # +0.0 normalizes IEEE negative zero (single-user classes produce
        # -0.0 in one engine and 0.0 in the other; repr() distinguishes)
        (F.round(-F.sum("plogp"), 4) + F.lit(0.0)).alias("entropy"),
    )
    return g.select(
        "event_type",
        F.unix_millis(F.col("hr").cast("timestamp")).alias("hour_ms"),
        "value_band",
        "group_size",
        "n_users",
        "entropy",
        F.when(F.col("n_users") < 3, 1).otherwise(0).alias("below_l"),
    )


@register(
    "pii_pseudonymize",
    oracle="""
    SELECT event_id,
           substr(md5('tenant-salt:' || CAST(user_id AS VARCHAR)), 1, 16)
             AS user_token,
           event_type, epoch_ms(ts) AS ts_ms
    FROM events
    """,
)
def pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization: user_id -> salted-hash token,
    REFERENTIALLY CONSISTENT (the same user maps to the same token in
    every table and every run, so joins and per-user aggregates still
    work on the released data) yet not reversible without the salt.
    Pure map-side expression — no shuffle at all; the privacy sibling of
    `pii_redaction` (free text) for key columns. Rotating the salt
    re-keys the whole release in one pass."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.substring(
            F.md5(F.concat(F.lit("tenant-salt:"), F.col("user_id").cast("string"))),
            1,
            16,
        ).alias("user_token"),
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )


@register(
    "quantile_sketch_log",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(ln(o_totalprice) / 0.01) AS BIGINT) AS bucket,
             count(*)::BIGINT AS cnt
      FROM orders WHERE o_totalprice > 0
      GROUP BY 1
    ), c AS (
      SELECT bucket, cnt,
             sum(cnt) OVER (ORDER BY bucket) AS cum,
             sum(cnt) OVER () AS total
      FROM b
    ), q AS (
      SELECT CAST(q_frac AS DOUBLE) AS q_frac
      FROM (VALUES (0.5), (0.9), (0.99)) t(q_frac)
    )
    SELECT q_frac,
           round(exp((min(c.bucket) + 0.5) * 0.01), 4) AS est_value
    FROM q JOIN c ON c.cum >= q.q_frac * c.total
    GROUP BY q_frac
    """,
)
def quantile_sketch_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch that IS hash-checkable: a log-domain
    histogram (bin width 1% in ln-space -> ~0.5% relative value error by
    construction). Unlike GK/t-digest, the sketch state is a
    DETERMINISTIC (bucket -> count) table — mergeable by counter
    addition across partitions, hours, or engines, and therefore
    value-hash oracle-able, which no engine-specific sketch is. One
    map-side-combined agg builds it; quantile lookup walks the tiny
    cumulative table. Relative-error contract vs exact quantiles pinned
    in tests/test_incremental.py."""
    orders = load_table(spark, sf_dir, "orders")
    b = (
        orders.filter(F.col("o_totalprice") > 0)
        .groupBy(
            F.floor(F.log(F.col("o_totalprice")) / 0.01).cast("long").alias("bucket")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    c = b.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("total"),
    )
    q = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "q_frac double")
    return (
        q.join(c, F.col("cum") >= F.col("q_frac") * F.col("total"))
        .groupBy("q_frac")
        .agg(
            F.round(F.exp((F.min("bucket") + 0.5) * 0.01), 4).alias("est_value")
        )
    )


@register(
    "bloom_prefilter_orders",
    oracle="""
    WITH members AS (
      SELECT DISTINCT c_custkey AS key FROM customer WHERE c_nationkey = 1
    ), probes AS (
      SELECT DISTINCT o_custkey AS key FROM orders
      WHERE o_custkey IS NOT NULL
    ), bloom AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(m.key AS VARCHAR) || '|'
                                 || CAST(1000 + d.range AS VARCHAR)), 1, 15))::BIGINT
               % 65536 AS pos
      FROM members m CROSS JOIN range(5) d
    ), pp AS (
      SELECT p.key,
             ('0x' || substr(md5(CAST(p.key AS VARCHAR) || '|'
                                 || CAST(1000 + d.range AS VARCHAR)), 1, 15))::BIGINT
               % 65536 AS pos
      FROM probes p CROSS JOIN range(5) d
    ), marked AS (
      SELECT key, bool_and(pos IN (SELECT pos FROM bloom)) AS maybe_present
      FROM pp GROUP BY key
    ), j AS (
      SELECT mk.key, mk.maybe_present,
             CASE WHEN mem.key IS NOT NULL THEN 1 ELSE 0 END AS is_member
      FROM marked mk LEFT JOIN members mem USING (key)
    )
    SELECT CAST(sum(is_member) AS BIGINT) AS n_true_members,
           CAST(sum(CASE WHEN maybe_present THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_passed,
           CAST(sum(CASE WHEN maybe_present AND is_member = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positives,
           round(sum(CASE WHEN maybe_present AND is_member = 0 THEN 1 ELSE 0 END)
                 / greatest(sum(CASE WHEN is_member = 0 THEN 1 ELSE 0 END), 1),
                 6) AS fpr
    FROM j
    """,
)
def bloom_prefilter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pre-filter report: build a relational Bloom filter
    (`operators/frequency.py:bloom_build`) over the customers of one
    nation, probe every order's custkey through it, and compare against
    the exact semi-join — one row: exact matches, bloom-passed rows, and
    the measured false-positive rate. This is the shippable-sketch
    pattern: the 64 KB filter travels to the orders job as a pre-filter
    that drops most non-matching rows BEFORE the real join (no shuffle
    of the fact side to discover non-membership).

    Value-oracled via the md5 hash tier: DuckDB rebuilds the identical
    set-bit positions, so membership verdicts — including which
    NON-members false-positive through the filter — hash-compare
    exactly. xxhash64 stays the production default tier; the
    no-false-negative and FPR contracts remain pinned in
    tests/test_stats.py."""
    from hw_kafka_flink_health_spark.operators.frequency import (
        bloom_build,
        bloom_probe,
    )

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    members = cust.filter(F.col("c_nationkey") == 1).select(
        F.col("c_custkey").alias("key")
    )
    bloom = bloom_build(members, "key", hash="md5")
    probes = orders.select(F.col("o_custkey").alias("key")).distinct()
    probed = bloom_probe(bloom, probes, hash="md5")
    exact = probes.join(
        members.withColumn("__m", F.lit(1)).distinct(), "key", "left"
    ).select("key", F.coalesce("__m", F.lit(0)).alias("is_member"))
    joined = probed.join(exact, "key")
    return joined.agg(
        F.sum("is_member").cast("long").alias("n_true_members"),
        F.sum(F.when(F.col("maybe_present"), 1).otherwise(0))
        .cast("long")
        .alias("n_bloom_passed"),
        F.sum(F.when(F.col("maybe_present") & (F.col("is_member") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_false_positives"),
        F.round(
            F.sum(F.when(F.col("maybe_present") & (F.col("is_member") == 0), 1).otherwise(0))
            / F.greatest(F.sum(F.when(F.col("is_member") == 0, 1).otherwise(0)), F.lit(1)),
            6,
        ).alias("fpr"),
    )


@register(
    "regr_theil_sen_user",
    oracle="""
    WITH d AS (
      SELECT user_id,
             CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS day,
             round(avg(value), 6) AS v
      FROM events GROUP BY 1, 2
    ), slopes AS (
      SELECT a.user_id,
             (b.v - a.v) / (b.day - a.day) AS slope
      FROM d a JOIN d b ON a.user_id = b.user_id AND a.day < b.day
    ), ranked AS (
      SELECT user_id, slope,
             row_number() OVER (PARTITION BY user_id ORDER BY slope) AS rn,
             count(*) OVER (PARTITION BY user_id) AS cnt
      FROM slopes
    )
    SELECT user_id,
           round(avg(slope), 6) AS theil_slope,
           CAST(max(cnt) AS BIGINT) AS n_pairs
    FROM ranked
    WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
    GROUP BY user_id
    """,
)
def regr_theil_sen_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per user: the MEDIAN of all pairwise daily
    slopes — up to ~29% outlier contamination cannot move it, unlike the
    least-squares `regr_user_trend` twin. The pair join is per-user on
    the DAILY pre-aggregate, so the quadratic blowup is bounded by
    days², not events² (the only safe way to run pairwise estimators at
    scale), and the exact median uses the same rank-window selection as
    `median_value_by_type` — one exchange on user_id shared by the pair
    join and both windows. Daily means round to 6 dp before the slope
    division so both engines hash-match."""
    ev = load_table(spark, sf_dir, "events")
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    d = ev.groupBy(
        "user_id", F.floor(ts_ms / 86400000.0).cast("long").alias("day")
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    a, b = d.alias("a"), d.alias("b")
    slopes = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id")) & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        ((F.col("b.v") - F.col("a.v")) / (F.col("b.day") - F.col("a.day"))).alias(
            "slope"
        ),
    )
    wr = Window.partitionBy("user_id").orderBy("slope")
    wc = Window.partitionBy("user_id")
    ranked = slopes.select(
        "user_id",
        "slope",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("cnt") + 2) / 2))
    )
    return mid.groupBy("user_id").agg(
        F.round(F.avg("slope"), 6).alias("theil_slope"),
        F.max("cnt").cast("long").alias("n_pairs"),
    )


@register(
    "corr_kendall_tau_user",
    oracle="""
    WITH d AS (
      SELECT user_id,
             CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS day,
             round(avg(value), 6) AS v
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.user_id,
             CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS s
      FROM d a JOIN d b ON a.user_id = b.user_id AND a.day < b.day
    )
    SELECT user_id,
           count(*)::BIGINT AS n_pairs,
           sum(s)::BIGINT AS concordance,
           round(sum(s) * 1.0 / count(*), 6) AS kendall_tau
    FROM pairs GROUP BY user_id
    """,
)
def corr_kendall_tau_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-a of daily value vs time, per user: the rank-based
    trend-strength measure (sign-only, so one corrupted day cannot move
    it far — the correlation sibling of `regr_theil_sen_user`, sharing
    its bounded days² pair join). Since the x axis is the day itself and
    pairs are generated with a.day < b.day, concordance reduces to
    sign(v_b − v_a) — integer arithmetic until the final ratio, so the
    hash check is exact."""
    ev = load_table(spark, sf_dir, "events")
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    d = ev.groupBy(
        "user_id", F.floor(ts_ms / 86400000.0).cast("long").alias("day")
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id")) & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.when(F.col("b.v") > F.col("a.v"), 1)
        .when(F.col("b.v") < F.col("a.v"), -1)
        .otherwise(0)
        .alias("s"),
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("s").cast("long").alias("concordance"),
        F.round(F.sum("s") * 1.0 / F.count(F.lit(1)), 6).alias("kendall_tau"),
    )


@register(
    "percentile_matrix_by_type",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.25), 4) AS p25,
           round(quantile_cont(value, 0.50), 4) AS p50,
           round(quantile_cont(value, 0.75), 4) AS p75,
           round(quantile_cont(value, 0.95), 4) AS p95,
           count(*)::BIGINT AS cnt
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)
def percentile_matrix_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-quantile report per group in ONE aggregate pass:
    `percentile(value, array(...))` computes all four interpolated
    quantiles from a single per-group sort (both engines use the same
    type-7 linear interpolation, so the 4-dp hash matches exactly) —
    versus four separate percentile calls, which would sort the group
    four times. The approx sibling (`percentile_approx`/GK) remains the
    unbounded-group scale path; this is the exact tier for bounded
    per-group cardinalities."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    qs = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.25, 0.5, 0.75, 0.95))").alias("q"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    return qs.select(
        "event_type",
        F.round(F.col("q")[0], 4).alias("p25"),
        F.round(F.col("q")[1], 4).alias("p50"),
        F.round(F.col("q")[2], 4).alias("p75"),
        F.round(F.col("q")[3], 4).alias("p95"),
        "cnt",
    )


@register(
    "weighted_median_price",
    oracle="""
    WITH w AS (
      SELECT l_returnflag, l_extendedprice AS price,
             CAST(l_quantity AS DOUBLE) AS wt,
             sum(CAST(l_quantity AS DOUBLE)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(CAST(l_quantity AS DOUBLE)) OVER (PARTITION BY l_returnflag) AS tot
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    )
    SELECT l_returnflag,
           round(min(CASE WHEN cum >= tot / 2 THEN price END), 2) AS weighted_median,
           round(max(tot), 2) AS total_weight
    FROM w GROUP BY l_returnflag
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (price weighted by quantity) per return flag: the
    first price whose cumulative weight crosses half the total — the
    inventory-weighted 'typical price' no unweighted median gives. Both
    running and total weight ride ONE exchange on the group key
    (cumulative window + whole-partition window share the partitioning);
    the crossing row is a conditional min, not a second scan. Order is
    totalized by (price, orderkey, linenumber) so the crossing row is
    unique in both engines."""
    # NULL prices/weights out: a NULL sort key lands NULLS FIRST in
    # Spark but NULLS LAST in DuckDB, shifting every cumulative weight
    # (nulls fuzz finding); a NULL-priced row could also never BE the
    # median yet would still move cum.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("l_returnflag")
    w = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.sum(F.col("l_quantity").cast("double")).over(wc).alias("cum"),
        F.sum(F.col("l_quantity").cast("double")).over(wall).alias("tot"),
    )
    return w.groupBy("l_returnflag").agg(
        F.round(
            F.min(F.when(F.col("cum") >= F.col("tot") / 2, F.col("price"))), 2
        ).alias("weighted_median"),
        F.round(F.max("tot"), 2).alias("total_weight"),
    )


@register(
    "approx_f2_tokens",
    oracle="""
    WITH raw AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), t AS (SELECT tok FROM raw WHERE tok <> ''),
    c AS (
      SELECT e.range AS est,
             ('0x' || substr(md5(tok || '|' || CAST(2000 + e.range AS VARCHAR)), 1, 15))::BIGINT
               % 64 AS counter,
             CASE WHEN ('0x' || substr(md5(tok || '|' || CAST(3000 + e.range AS VARCHAR)), 1, 15))::BIGINT
                       % 2 = 0 THEN 1 ELSE -1 END AS sgn
      FROM t CROSS JOIN range(5) e
    ), sk AS (
      SELECT est, counter, sum(sgn)::BIGINT AS val FROM c GROUP BY 1, 2
    ), per AS (
      SELECT CAST(est AS BIGINT) AS est, sum(val * val)::BIGINT AS f2_est
      FROM sk GROUP BY 1
    )
    SELECT est, f2_est,
           (SELECT CAST(median(f2_est) AS DOUBLE) FROM per) AS f2_median
    FROM per
    """,
)
def approx_f2_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate token F2 (= the exact output size of a token
    self-join) from the AMS sketch — the sketch-tier sibling of
    `join_skew_diagnostics`: where that query accounts per-key fan-out
    exactly, this one estimates the TOTAL collision mass from an e×c
    counter table whose build shuffles O(e·c) rows regardless of
    vocabulary size, and which merges across corpus slices by counter
    addition. The 30% error bound and exact linearity stay pinned in
    tests/test_stats.py.

    Value-oracled via the md5 hash tier: the signed counters, each
    estimator's Σval² and the median-of-means all replay exactly in
    DuckDB (per-estimator rows surfaced so a single colliding counter
    breaks the hash, not just the aggregate). xxhash64 stays the
    production default tier."""
    from hw_kafka_flink_health_spark.operators.frequency import ams_f2_sketch

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    sketch = ams_f2_sketch(toks, "tok", hash="md5")
    per = sketch.groupBy(F.col("est").cast("long").alias("est")).agg(
        F.sum(F.col("val") * F.col("val")).cast("long").alias("f2_est")
    )
    med = per.agg(
        F.expr("percentile(f2_est, 0.5)").cast("double").alias("f2_median")
    )
    return per.crossJoin(F.broadcast(med))


@register(
    "approx_distinct_kmv",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM events WHERE user_id IS NOT NULL
    ), r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_distinct
      FROM h
    )
    SELECT event_type,
           CAST(max(n_distinct) AS BIGINT) AS true_distinct,
           CASE WHEN max(n_distinct) < 64 THEN CAST(max(n_distinct) AS DOUBLE)
                ELSE round(63.0 / (max(CASE WHEN rn = 64 THEN hv END)
                                   / 4294967296.0), 4)
           END AS kmv_estimate
    FROM r WHERE rn <= 64
    GROUP BY event_type
    """,
)
def approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch, k=64: keep the k smallest
    portable md5 hashes per group; estimate = (k−1)/u_(k) where u_(k) is
    the k-th smallest hash as a [0,1) unit. The one approximate-distinct
    sketch whose ANSWER is value-hash oracle-able — its 'randomness' is
    the engine-portable md5, so Spark and DuckDB agree bit-for-bit
    (HLL's binary sketch never can). Mergeable: union the hash sets and
    re-take the k smallest — exact associativity by construction. Groups
    below k report their exact distinct count. One distinct + one rank
    window, both on the same group exchange. Scale note: true_distinct
    rides along here as the error-visibility column (cheap at these
    group counts); a 100 TB run drops it and replaces the rank window
    with per-partition k-smallest heaps merged k-wise (the TakeOrdered
    shape), never materializing a global distinct — the estimate line
    is unchanged because the k smallest hashes are the same set."""
    ev = load_table(spark, sf_dir, "events")
    # NULL keys are excluded — distinct-count semantics ignore NULL, and
    # the md5-of-NULL expression diverges across engines anyway
    h = ev.filter(F.col("user_id").isNotNull()).select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("hv"),
    ).distinct()
    wr = Window.partitionBy("event_type").orderBy("hv")
    wc = Window.partitionBy("event_type")
    r = h.select(
        "event_type",
        "hv",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_distinct"),
    ).filter(F.col("rn") <= 64)
    return r.groupBy("event_type").agg(
        F.max("n_distinct").cast("long").alias("true_distinct"),
        F.when(
            F.max("n_distinct") < 64, F.max("n_distinct").cast("double")
        )
        .otherwise(
            F.round(
                63.0
                / (F.max(F.when(F.col("rn") == 64, F.col("hv"))) / F.lit(4294967296.0)),
                4,
            )
        )
        .alias("kmv_estimate"),
    )


@register(
    "stats_chi_square_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type, hour(ts) // 6 AS hour_band,
             count(*)::BIGINT AS observed
      FROM events
      GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, hour_band, observed,
             sum(observed) OVER (PARTITION BY event_type)::BIGINT AS row_total,
             sum(observed) OVER (PARTITION BY hour_band)::BIGINT AS col_total,
             sum(observed) OVER ()::BIGINT AS n
      FROM cells
    )
    SELECT event_type, hour_band, observed,
           round(CAST(row_total AS DOUBLE) * col_total / n, 6) AS expected,
           round(
             (observed - CAST(row_total AS DOUBLE) * col_total / n)
             * (observed - CAST(row_total AS DOUBLE) * col_total / n)
             / (CAST(row_total AS DOUBLE) * col_total / n), 6
           ) AS chi2_contrib
    FROM tot
    """,
)
def stats_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and time-of-day
    band (6-hour buckets): the contingency table with per-cell expected
    counts and chi-square contributions — the feature-vs-feature
    dependence screen a data-quality pipeline runs before trusting a
    stratified sample. Scale shape: ONE shuffle builds the R x C cell
    table (map-side combine does the heavy lifting); the row/column/grand
    totals are windows over that tiny cell table, costing nothing — never
    re-scan the raw events for marginals. All marginals stay exact
    bigints; the expected/contribution doubles derive from the same
    integers in both engines and are rounded to absorb libm jitter.
    Extension surface (SURVEY.md §2.C stats layer) — no reference
    counterpart (its only aggregate is a toy alert count)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (F.hour("ts").cast("long") / 6).cast("long").alias("hour_band"),
    ).agg(F.count(F.lit(1)).cast("long").alias("observed"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("hour_band")
    wn = Window.partitionBy()
    t = cells.select(
        "event_type",
        "hour_band",
        "observed",
        F.sum("observed").over(wr).cast("long").alias("row_total"),
        F.sum("observed").over(wc).cast("long").alias("col_total"),
        F.sum("observed").over(wn).cast("long").alias("n"),
    )
    e = F.col("row_total").cast("double") * F.col("col_total") / F.col("n")
    return t.select(
        "event_type",
        "hour_band",
        "observed",
        F.round(e, 6).alias("expected"),
        F.round((F.col("observed") - e) * (F.col("observed") - e) / e, 6).alias(
            "chi2_contrib"
        ),
    )


@register(
    "orders_benford_digits",
    oracle="""
    WITH d AS (
      SELECT substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1)
               AS digit,
             count(*)::BIGINT AS cnt
      FROM orders
      WHERE o_totalprice > 0
      GROUP BY 1
    )
    SELECT digit, cnt,
           round(CAST(cnt AS DOUBLE) / sum(cnt) OVER (), 6) AS obs_frac,
           round(log10(1.0 + 1.0 / CAST(digit AS BIGINT)), 6) AS benford_frac
    FROM d
    """,
)
def orders_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: first-significant-digit
    distribution vs the log10(1 + 1/d) expectation — the classic fraud /
    synthetic-data smell test. The digit is extracted in EXACT integer
    space (price -> cents bigint -> leading character of its decimal
    rendering): a floor(log10(x)) extraction would misclassify values
    sitting one ulp below a power of ten, and double->string formatting
    differs across engines, while integer rendering is universal. One
    shuffle to the 9-row digit table; the total is a window over it.
    Extension surface (SURVEY.md §2.C stats layer)."""
    orders = load_table(spark, sf_dir, "orders")
    d = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").cast("string"),
                1,
                1,
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return d.select(
        "digit",
        "cnt",
        F.round(
            F.col("cnt").cast("double") / F.sum("cnt").over(Window.partitionBy()), 6
        ).alias("obs_frac"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit").cast("long")), 6).alias(
            "benford_frac"
        ),
    )


@register(
    "stats_kaplan_meier_reorder",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, o_orderkey
      FROM orders WHERE o_orderdate IS NOT NULL
    ), r AS (
      SELECT o_custkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM o
    ), cust AS (
      SELECT o_custkey,
             min(CASE WHEN rn = 1 THEN o_orderdate END) AS t1,
             min(CASE WHEN rn = 2 THEN o_orderdate END) AS t2
      FROM r GROUP BY 1
    ), h AS (
      SELECT max(o_orderdate) AS horizon, count(*) FROM o
    ), obs AS (
      SELECT CASE WHEN t2 IS NOT NULL
                  THEN date_diff('day', CAST(t1 AS DATE), CAST(t2 AS DATE))
                  ELSE date_diff('day', CAST(t1 AS DATE), CAST(horizon AS DATE))
             END AS t,
             CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM cust, h
    ), tot AS (
      SELECT count(*)::BIGINT AS n_total FROM obs
    ), g AS (
      SELECT t, sum(ev)::BIGINT AS d, sum(1 - ev)::BIGINT AS c
      FROM obs GROUP BY t
    ), k AS (
      SELECT t, d, c,
             n_total - coalesce(sum(d + c) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0)::BIGINT AS n_risk
      FROM g, tot
    )
    SELECT CAST(t AS BIGINT) AS time_days, d AS n_events, c AS n_censored,
           n_risk,
           round(CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (
                        ORDER BY t ROWS UNBOUNDED PRECEDING) = 1
                 THEN 0.0
                 ELSE exp(sum(CASE WHEN d > 0 AND d < n_risk
                                   THEN ln(1 - CAST(d AS DOUBLE) / n_risk)
                                   ELSE 0.0 END) OVER (
                            ORDER BY t ROWS UNBOUNDED PRECEDING))
                 END, 6) AS survival
    FROM k
    """,
)
def stats_kaplan_meier_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of time-to-second-order per customer,
    with REAL right-censoring: one-order customers are censored at the
    end of the observation window (max order date), so the estimator's
    at-risk bookkeeping is genuine, not an ECDF in disguise. Shape: one
    window pass ranks each customer's orders (first/second), one
    aggregate per customer, then ALL survival math happens on the tiny
    per-day life table — running at-risk counts and the cumulative
    product via exp(sum(ln)) windows over a few hundred rows, with the
    d = n_risk absorbing state handled exactly (a raw ln(0) is -inf in
    one engine and NULL in the other). At 100 TB the heavy part is the
    per-customer rank — one shuffle on customer — and the life table
    stays driver-trivial without ever being collected."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderdate").isNotNull()).select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    rn = F.row_number().over(
        Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    )
    cust = (
        o.withColumn("rn", rn)
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("o_orderdate"))).alias("t1"),
            F.min(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias("t2"),
        )
    )
    h = o.agg(F.max("o_orderdate").alias("horizon"))
    obs = cust.crossJoin(F.broadcast(h)).select(
        F.when(
            F.col("t2").isNotNull(),
            F.datediff(F.to_date("t2"), F.to_date("t1")),
        )
        .otherwise(F.datediff(F.to_date("horizon"), F.to_date("t1")))
        .cast("long")
        .alias("t"),
        F.when(F.col("t2").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    tot = obs.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    g = obs.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(1 - F.col("ev")).cast("long").alias("c"),
    )
    wprev = (
        Window.partitionBy()
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcum = (
        Window.partitionBy()
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    k = g.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    dead = F.max(F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)).over(wcum)
    lnsum = F.sum(
        F.when(
            (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
            F.log(1 - F.col("d").cast("double") / F.col("n_risk")),
        ).otherwise(F.lit(0.0))
    ).over(wcum)
    return k.select(
        F.col("t").alias("time_days"),
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        "n_risk",
        F.round(
            F.when(dead == 1, F.lit(0.0)).otherwise(F.exp(lnsum)), 6
        ).alias("survival"),
    )


@register(
    "privacy_t_closeness",
    oracle="""
    WITH base AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(floor(value / 50.0) AS BIGINT) AS band
      FROM events WHERE value IS NOT NULL
    ), gband AS (
      SELECT band AS g_band, count(*)::BIGINT AS gcnt FROM base GROUP BY 1
    ), gtot AS (
      SELECT sum(gcnt)::BIGINT AS gtotal, count(*)::BIGINT AS m FROM gband
    ), cls AS (
      SELECT event_type, hr, count(*)::BIGINT AS class_size
      FROM base GROUP BY 1, 2
    ), cb AS (
      SELECT event_type AS cb_type, hr AS cb_hr, band AS cb_band,
             count(*)::BIGINT AS cnt
      FROM base GROUP BY 1, 2, 3
    ), grid AS (
      -- EXACT integer mass difference, scaled by class_size*gtotal:
      -- dqi = cnt*gtotal - gcnt*class_size
      SELECT cls.event_type, cls.hr, cls.class_size, gband.g_band AS band,
             coalesce(cb.cnt, 0) * gtot.gtotal
               - gband.gcnt * cls.class_size AS dqi,
             gtot.gtotal AS gtotal, gtot.m AS m
      FROM cls CROSS JOIN gband CROSS JOIN gtot
      LEFT JOIN cb ON cb.cb_type IS NOT DISTINCT FROM cls.event_type
                  AND cb.cb_hr IS NOT DISTINCT FROM cls.hr
                  AND cb.cb_band = gband.g_band
    ), cum AS (
      SELECT event_type, hr, class_size, gtotal, m,
             sum(dqi) OVER (PARTITION BY event_type, hr
                            ORDER BY band ROWS UNBOUNDED PRECEDING) AS c
      FROM grid
    ), agg AS (
      SELECT event_type, hr, class_size, gtotal, m,
             sum(abs(c))::BIGINT AS sum_abs
      FROM cum GROUP BY 1, 2, 3, 4, 5
    )
    SELECT event_type, epoch_ms(hr) AS hour_ms, class_size,
           CASE WHEN m = 1 THEN 0
                ELSE CAST(floor(CAST(sum_abs AS DOUBLE)
                       / (class_size * gtotal * (m - 1)) * 1000000 + 0.5)
                     AS BIGINT) END AS emd_micro,
           CASE WHEN m > 1 AND sum_abs * 5 > class_size * gtotal * (m - 1)
                THEN 1 ELSE 0 END AS above_t
    FROM agg
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-closeness audit — completing the k-anonymity / l-diversity /
    t-closeness trio: per quasi-identifier class (event type x hour),
    the Earth Mover's Distance between the class's sensitive-attribute
    distribution (ordered value bands) and the global one; a class can
    be large (k-safe) and diverse (l-safe) yet still leak because its
    value mix skews far from the population. EMD over an ordered
    attribute is the mean |running (class - global) mass difference|.

    Numeric discipline: the mass differences are kept as EXACT integers
    (cnt*gtotal - gcnt*class_size — the ratios share a denominator), so
    the whole distance is one integer sum with a single double division
    at the end, emitted in integer micro-units via an explicit
    floor(x*1e6+0.5) — engines' round() half-rules disagree on boundary
    doubles and these small-denominator rationals HIT the boundary (a
    real divergence this query's first draft caught). The >0.2 flag is
    the exact integer comparison sum*5 > denom. Shape: two stacked aggs
    on the raw table, then all distance math on the dense classes x
    bands grid built by cross-joining the tiny broadcast band dimension
    — the raw table is scanned once and never re-joined."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hr"),
        F.floor(F.col("value") / 50.0).cast("long").alias("band"),
    )
    gband = base.groupBy(F.col("band").alias("g_band")).agg(
        F.count(F.lit(1)).cast("long").alias("gcnt")
    )
    gtot = gband.agg(
        F.sum("gcnt").cast("long").alias("gtotal"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    cls = base.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).cast("long").alias("class_size")
    )
    cb = base.groupBy(
        F.col("event_type").alias("cb_type"),
        F.col("hr").alias("cb_hr"),
        F.col("band").alias("cb_band"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    grid = (
        cls.crossJoin(F.broadcast(gband))
        .crossJoin(F.broadcast(gtot))
        .join(
            cb,
            on=[
                F.col("event_type").eqNullSafe(F.col("cb_type")),
                F.col("hr").eqNullSafe(F.col("cb_hr")),
                F.col("cb_band") == F.col("g_band"),
            ],
            how="left",
        )
        .select(
            "event_type",
            "hr",
            "class_size",
            F.col("g_band").alias("band"),
            (
                F.coalesce(F.col("cnt"), F.lit(0)) * F.col("gtotal")
                - F.col("gcnt") * F.col("class_size")
            ).alias("dqi"),
            "gtotal",
            "m",
        )
    )
    wcum = (
        Window.partitionBy("event_type", "hr")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "event_type",
        "hr",
        "class_size",
        "gtotal",
        "m",
        F.sum("dqi").over(wcum).alias("c"),
    )
    agg = cum.groupBy("event_type", "hr", "class_size", "gtotal", "m").agg(
        F.sum(F.abs(F.col("c"))).cast("long").alias("sum_abs")
    )
    den = F.col("class_size") * F.col("gtotal") * (F.col("m") - 1)
    emd_micro = F.when(F.col("m") == 1, F.lit(0).cast("long")).otherwise(
        F.floor(F.col("sum_abs").cast("double") / den * 1000000 + 0.5).cast(
            "long"
        )
    )
    return agg.select(
        "event_type",
        F.unix_millis(F.col("hr").cast("timestamp")).alias("hour_ms"),
        "class_size",
        emd_micro.alias("emd_micro"),
        F.when(
            (F.col("m") > 1) & (F.col("sum_abs") * 5 > den), 1
        )
        .otherwise(0)
        .alias("above_t"),
    )


@register(
    "gini_by_segment",
    oracle="""
    WITH joined AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_totalprice IS NOT NULL
    ),
    byval AS (
      SELECT segment, v, count(*)::BIGINT AS cnt
      FROM joined GROUP BY 1, 2
    ),
    ranked AS (
      SELECT segment, v, cnt,
             coalesce(sum(cnt) OVER (PARTITION BY segment ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (cnt + 1) / 2.0 AS avgrank
      FROM byval
    )
    SELECT segment, sum(cnt)::BIGINT AS n,
           round(2.0 * sum(cnt * avgrank * v)
                   / nullif(sum(cnt) * sum(cnt * v), 0)
                 - (sum(cnt) + 1.0) / sum(cnt), 6) AS gini
    FROM ranked
    GROUP BY segment
    """,
)
def gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of order values per customer market
    segment (mid-rank formula, ties at their average rank):
    G = 2·Σrᵢxᵢ/(n·Σxᵢ) − (n+1)/n.

    Same distinct-value reduction as the rank tests in
    `queries/inference.py`: the join output collapses to (segment,
    value) counts in one shuffle, the rank pass is a per-segment window
    over value groups (each segment sorts independently), and the final
    row per segment is a hash aggregate. Nothing global-sorts raw rows,
    so 100 TB of orders costs one join + one grouped pass + one
    bounded-width window."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = (
        orders.filter(F.col("o_totalprice").isNotNull())
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(F.col("c_mktsegment").alias("segment"), F.col("o_totalprice").alias("v"))
    )
    byval = joined.groupBy("segment", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wseg = (
        Window.partitionBy("segment")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = byval.withColumn(
        "avgrank",
        F.coalesce(F.sum("cnt").over(wseg), F.lit(0)) + (F.col("cnt") + 1) / 2.0,
    )
    n = F.sum("cnt")
    return ranked.groupBy("segment").agg(
        n.cast("long").alias("n"),
        F.round(
            F.try_divide(
                2.0 * F.sum(F.col("cnt") * F.col("avgrank") * F.col("v")),
                n * F.sum(F.col("cnt") * F.col("v")),
            )
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


@register(
    "lorenz_revenue_deciles",
    oracle="""
    WITH byval AS (
      SELECT o_totalprice AS v, count(*)::BIGINT AS cnt
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
    ),
    ranked AS (
      SELECT v, cnt,
             coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
             sum(cnt) OVER () AS n
      FROM byval
    ),
    bucketed AS (
      SELECT least(CAST(floor(10 * cum_before / n) AS BIGINT), 9) AS decile,
             cnt, cnt * v AS rev
      FROM ranked
    ),
    by_decile AS (
      SELECT decile, sum(cnt)::BIGINT AS n_orders,
             round(sum(rev), 2) AS revenue
      FROM bucketed GROUP BY 1
    )
    SELECT decile, n_orders, revenue,
           round(revenue / nullif(sum(revenue) OVER (), 0), 6) AS rev_share,
           round(sum(revenue) OVER (ORDER BY decile)
                 / nullif(sum(revenue) OVER (), 0), 6) AS cum_share
    FROM by_decile
    """,
)
def lorenz_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve in deciles: bottom-10%-of-orders through
    top-10%-of-orders revenue shares, cumulated — the 'top decile of
    orders carries X% of revenue' concentration report.

    Deciles are assigned by an INTEGER rule on cumulative counts over
    distinct values (floor(10·cum_before/n), all tied values share a
    decile) rather than ntile(), whose arbitrary tie placement would let
    the two engines split equal values across bucket boundaries
    differently. Distinct-value reduction again: windows run over the
    value groups, the decile aggregate is 10 rows, and the share windows
    are over those 10."""
    orders = load_table(spark, sf_dir, "orders")
    byval = (
        orders.filter(F.col("o_totalprice").isNotNull())
        .groupBy(F.col("o_totalprice").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = byval.select(
        "v",
        "cnt",
        F.coalesce(F.sum("cnt").over(wcum), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(wall).alias("n"),
    )
    bucketed = ranked.select(
        F.least(
            F.floor(10 * F.col("cum_before") / F.col("n")).cast("long"), F.lit(9)
        ).alias("decile"),
        "cnt",
        (F.col("cnt") * F.col("v")).alias("rev"),
    )
    by_decile = bucketed.groupBy("decile").agg(
        F.sum("cnt").cast("long").alias("n_orders"),
        F.round(F.sum("rev"), 2).alias("revenue"),
    )
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wrun = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return by_decile.select(
        "decile",
        "n_orders",
        "revenue",
        F.round(
            F.try_divide(F.col("revenue"), F.sum("revenue").over(wtot)), 6
        ).alias("rev_share"),
        F.round(
            F.try_divide(F.sum("revenue").over(wrun), F.sum("revenue").over(wtot)),
            6,
        ).alias("cum_share"),
    )


@register(
    "stats_nelson_aalen",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS ms, event_type
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), u AS (
      SELECT user_id,
             min(ms) AS t0,
             min(CASE WHEN event_type = 'error' THEN ms END) AS terr
      FROM e GROUP BY user_id
    ), h AS (
      SELECT max(ms) AS horizon FROM e
    ), obs AS (
      SELECT CASE WHEN terr IS NOT NULL THEN (terr - t0) // 3600000
                  ELSE (horizon - t0) // 3600000 END AS t,
             CASE WHEN terr IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM u, h
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total FROM obs
    ), g AS (
      SELECT t, CAST(sum(ev) AS BIGINT) AS d, CAST(sum(1 - ev) AS BIGINT) AS c
      FROM obs GROUP BY t
    ), k AS (
      SELECT t, d, c,
             n_total - CAST(coalesce(sum(d + c) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS n_risk
      FROM g, tot
    )
    SELECT CAST(t AS BIGINT) AS time_hours, d AS n_events, c AS n_censored, n_risk,
           round(sum(CAST(d AS DOUBLE) / n_risk)
                   OVER (ORDER BY t ROWS UNBOUNDED PRECEDING), 6) AS cum_hazard,
           round(sum(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk))
                   OVER (ORDER BY t ROWS UNBOUNDED PRECEDING), 6) AS hazard_var
    FROM k
    """,
)
def stats_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator H(t) = sum_{t_i<=t} d_i/n_i
    for time (hours) from a user's first event to their first 'error',
    right-censored at the corpus horizon, with the Poisson-type variance
    sum d_i/n_i^2. Complements the Kaplan-Meier query (stats.py) with the
    counting-process view: H is the quantity additive-hazard models fit,
    and exp(-H) is the Fleming-Harrington survival twin. Shape: one
    shuffle on user_id, then every estimator term lives on the tiny
    per-hour life table; the cumulative sums are ordered-window
    accumulations over exact d/n ratios (rounded at 1e-6 to absorb
    cross-engine ulp drift). At 100 TB the life table stays thousands of
    rows, never collected."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
            "event_type",
        )
    )
    u = ev.groupBy("user_id").agg(
        F.min("ms").alias("t0"),
        F.min(F.when(F.col("event_type") == "error", F.col("ms"))).alias("terr"),
    )
    h = ev.agg(F.max("ms").alias("horizon"))
    obs = u.crossJoin(F.broadcast(h)).select(
        # integer DIV, not double `/`: a double quotient can round UP across
        # an hour boundary before the long cast; DuckDB's `//` floors.
        F.when(
            F.col("terr").isNotNull(),
            F.expr("(terr - t0) DIV 3600000"),
        )
        .otherwise(F.expr("(horizon - t0) DIV 3600000"))
        .cast("long")
        .alias("t"),
        F.when(F.col("terr").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    tot = obs.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    g = obs.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(1 - F.col("ev")).cast("long").alias("c"),
    )
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    k = g.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    return k.select(
        F.col("t").alias("time_hours"),
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        "n_risk",
        F.round(
            F.sum(F.col("d").cast("double") / F.col("n_risk")).over(wcum), 6
        ).alias("cum_hazard"),
        F.round(
            F.sum(
                F.col("d").cast("double")
                / (F.col("n_risk").cast("double") * F.col("n_risk"))
            ).over(wcum),
            6,
        ).alias("hazard_var"),
    )


@register(
    "stats_beta_binomial_shrinkage",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > 20 THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n, x,
           CAST(x AS DOUBLE) / n AS raw_rate,
           CAST(2 + x AS DOUBLE) / (10 + n) AS post_mean,
           (CAST(2 + x AS DOUBLE) * (8 + n - x))
             / ((CAST(10 + n AS DOUBLE) * (10 + n)) * (11 + n)) AS post_var
    FROM g
    """,
)
def stats_beta_binomial_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-binomial shrinkage of per-segment success rates (prior
    Beta(2, 8)): the empirical-Bayes readout that keeps small segments
    from reporting extreme rates — posterior mean (a+x)/(a+b+n) and
    variance ab'/((a+b+n)^2 (a+b+n+1)) with a' = a+x, b' = b+n-x. All
    operands are exact BIGINT counts; each output is a fixed IEEE
    division chain, bitwise identical cross-engine with no rounding
    slack. Shape: one conditional hash aggregate, then scalar algebra on
    |segments| rows — trivially 100 TB-safe."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("value") > 20, 1).otherwise(0)).cast("long").alias("x"),
    )
    n, x = F.col("n"), F.col("x")
    return g.select(
        "event_type",
        "n",
        "x",
        (x.cast("double") / n).alias("raw_rate"),
        ((x + 2).cast("double") / (n + 10)).alias("post_mean"),
        (
            ((x + 2).cast("double") * (F.lit(8) + n - x))
            / (((n + 10).cast("double") * (n + 10)) * (n + 11))
        ).alias("post_var"),
    )


@register(
    "stats_user_burstiness",
    oracle="""
    WITH dc AS (
      SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id, day
    ), m AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS s1,
             CAST(sum(c * c) AS BIGINT) AS s2
      FROM dc GROUP BY user_id
    )
    SELECT user_id, n_days, s1 AS n_events,
           CASE WHEN s1 > 0 THEN
             (CAST(n_days AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
               / (CAST(n_days AS DOUBLE) * s1) END AS fano,
           CASE WHEN n_days > 1
                 AND sqrt(CAST(n_days AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                       / sqrt(CAST(n_days AS DOUBLE) - 1) + CAST(s1 AS DOUBLE) / n_days
                     > 0
                THEN (sqrt(CAST(n_days AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                        / (sqrt(CAST(n_days AS DOUBLE) - 1) * n_days)
                      - CAST(s1 AS DOUBLE) / n_days)
                     / (sqrt(CAST(n_days AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                          / (sqrt(CAST(n_days AS DOUBLE) - 1) * n_days)
                        + CAST(s1 AS DOUBLE) / n_days)
                END AS burstiness
    FROM m
    """,
)
def stats_user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity burstiness over daily event counts: the Fano
    factor (variance-to-mean of the dispersion family, population
    variance via exact integer moments) and the Goh-Barabasi burstiness
    B = (sigma - mu)/(sigma + mu) with the sample sigma. Every cross-row
    quantity is an exact BIGINT moment; sigma and the two ratios are a
    fixed sqrt/divide chain on identical operands — deterministic
    cross-engine, NULL where undefined (single observed day, empty
    user). Shape: two hash aggregates ((user, day) then user); no
    windows; linear at 100 TB."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    dc = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    m = dc.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    nd = F.col("n_days").cast("double")
    s1d = F.col("s1").cast("double")
    css = nd * F.col("s2") - s1d * F.col("s1")
    mu = s1d / F.col("n_days")
    sigma = F.sqrt(css) / (F.sqrt(nd - 1) * F.col("n_days"))
    return m.select(
        "user_id",
        "n_days",
        F.col("s1").alias("n_events"),
        F.when(F.col("s1") > 0, css / (nd * F.col("s1"))).alias("fano"),
        F.when(
            (F.col("n_days") > 1)
            & (F.sqrt(css) / F.sqrt(nd - 1) + mu > 0),
            (sigma - mu) / (sigma + mu),
        ).alias("burstiness"),
    )


@register(
    "stats_runs_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate IS NOT NULL
      GROUP BY 1
    ), med AS (
      SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS m FROM daily
    ), signs AS (
      SELECT day, CASE WHEN cents > m THEN 1 ELSE 0 END AS s
      FROM daily, med WHERE cents <> m
    ), runs AS (
      SELECT s,
             CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                    OR lag(s) OVER (ORDER BY day) <> s
                  THEN 1 ELSE 0 END AS new_run
      FROM signs
    ), agg AS (
      SELECT CAST(sum(new_run) AS BIGINT) AS r,
             CAST(sum(s) AS BIGINT) AS n1,
             CAST(sum(1 - s) AS BIGINT) AS n2
      FROM runs
    )
    SELECT r AS n_runs, n1 AS n_above, n2 AS n_below,
           CASE WHEN n1 * n2 > 0 THEN
             1.0 + 2.0 * CAST(n1 AS DOUBLE) * n2 / (n1 + n2) END AS expected_runs,
           CASE WHEN n1 * n2 > 0 AND n1 + n2 > 1
                 AND (2.0 * CAST(n1 AS DOUBLE) * n2)
                     * (2.0 * CAST(n1 AS DOUBLE) * n2 - n1 - n2) > 0
                THEN (r - (1.0 + 2.0 * CAST(n1 AS DOUBLE) * n2 / (n1 + n2)))
                     / sqrt(((2.0 * CAST(n1 AS DOUBLE) * n2)
                             * (2.0 * CAST(n1 AS DOUBLE) * n2 - n1 - n2))
                            / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2)
                               * (n1 + n2 - 1)))
                END AS z
    FROM agg
    """,
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of daily revenue around
    its median (the regime-shift screen: too few runs = trending, too
    many = oscillating). Median-equal days drop (the standard
    convention); runs count via the lag-change flag; the normal
    approximation's mean and variance are fixed IEEE chains over exact
    BIGINT counts (NULL z for degenerate one-sided series). Scale: the
    fact table collapses to one row per day in the first aggregate;
    everything after rides the tiny day series, and the median is
    percentile_disc over integer cents — identical element choice in
    both engines."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    med = daily.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)").alias("m")
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("cents") != F.col("m"))
        .select("day", F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("s"))
    )
    wlag = Window.orderBy("day")
    runs = signs.select(
        "s",
        F.when(
            F.lag("s").over(wlag).isNull() | (F.lag("s").over(wlag) != F.col("s")), 1
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("new_run").cast("long").alias("r"),
        F.sum("s").cast("long").alias("n1"),
        F.sum(1 - F.col("s")).cast("long").alias("n2"),
    )
    n1d = F.col("n1").cast("double")
    n2 = F.col("n2")
    nn = F.col("n1") + F.col("n2")
    exp_r = F.lit(1.0) + 2.0 * n1d * n2 / nn
    two_n1n2 = 2.0 * n1d * n2
    var = (two_n1n2 * (two_n1n2 - F.col("n1") - n2)) / (
        nn.cast("double") * nn * (nn - 1)
    )
    return agg.select(
        F.col("r").alias("n_runs"),
        F.col("n1").alias("n_above"),
        n2.alias("n_below"),
        F.when(F.col("n1") * n2 > 0, exp_r).alias("expected_runs"),
        F.when(
            (F.col("n1") * n2 > 0)
            & (nn > 1)
            & (two_n1n2 * (two_n1n2 - F.col("n1") - n2) > 0),
            (F.col("r") - exp_r) / F.sqrt(var),
        ).alias("z"),
    )


@register(
    "stats_friedman_test",
    oracle="""
    WITH x AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2
    ), kk AS (
      SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM x
    ), blocks AS (
      SELECT day FROM x, kk GROUP BY day, k HAVING count(*) = k
    ), xb AS (
      SELECT x.day, x.event_type, x.v FROM x JOIN blocks b ON x.day = b.day
    ), vg AS (
      SELECT day, v, CAST(count(*) AS BIGINT) AS c FROM xb GROUP BY day, v
    ), vr AS (
      SELECT day, v,
             coalesce(CAST(sum(c) OVER (PARTITION BY day ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
               + (c + 1) / 2.0 AS avgrank
      FROM vg
    ), rk AS (
      SELECT xb.event_type, vr.avgrank
      FROM xb JOIN vr ON xb.day = vr.day AND xb.v = vr.v
    ), rsum AS (
      SELECT event_type, sum(avgrank) AS r_sum,
             CAST(count(*) AS BIGINT) AS n_blocks
      FROM rk GROUP BY event_type
    ), chi AS (
      SELECT CAST(sum(r_sum * r_sum) AS DOUBLE) AS ssr,
             max(n_blocks) AS n, CAST(count(*) AS BIGINT) AS k
      FROM rsum
    )
    SELECT r.event_type, r.r_sum, r.n_blocks, c.k,
           CASE WHEN c.n > 0 AND c.k > 1
                THEN 12.0 * c.ssr / (CAST(c.n AS DOUBLE) * c.k * (c.k + 1))
                     - 3.0 * c.n * (c.k + 1)
                END AS chi2
    FROM rsum r, chi c
    """,
)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test across event types blocked by day (the
    k-related-samples nonparametric ANOVA): within each complete block
    (days observing every treatment), treatments get average ranks of
    their daily totals; the chi-square statistic compares rank-sum
    spread. Exactness: daily totals are integer milli-units; average
    ranks come from the distinct-value cumulative idiom, and ties of
    consecutive integer positions always average to HALF-integers —
    dyadic doubles whose sums and squares stay exact, so the statistic
    is bit-identical with zero rounding slack. Scale: one (day, type)
    aggregate, then all ranking happens per-day on k-row groups."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    )
    x = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.sum(F.floor(F.col("value") * 1000 + 0.5).cast("long")).cast("long").alias("v")
    )
    kk = x.agg(F.countDistinct("event_type").cast("long").alias("k"))
    blocks = (
        x.crossJoin(F.broadcast(kk))
        .groupBy("day", "k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == F.col("k"))
        .select("day")
    )
    xb = x.join(blocks, "day")
    vg = xb.groupBy("day", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wday = (
        Window.partitionBy("day")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    vr = vg.select(
        "day",
        "v",
        (
            F.coalesce(F.sum("c").over(wday), F.lit(0)).cast("long")
            + (F.col("c") + 1) / 2.0
        ).alias("avgrank"),
    )
    rk = xb.join(vr, ["day", "v"]).select("event_type", "avgrank")
    rsum = rk.groupBy("event_type").agg(
        F.sum("avgrank").alias("r_sum"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    chi = rsum.agg(
        F.sum(F.col("r_sum") * F.col("r_sum")).cast("double").alias("ssr"),
        F.max("n_blocks").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return rsum.crossJoin(F.broadcast(chi)).select(
        "event_type",
        "r_sum",
        "n_blocks",
        "k",
        F.when(
            (F.col("n") > 0) & (F.col("k") > 1),
            12.0 * F.col("ssr") / (F.col("n").cast("double") * F.col("k") * (F.col("k") + 1))
            - 3.0 * F.col("n") * (F.col("k") + 1),
        ).alias("chi2"),
    )


@register(
    "stats_two_proportion_ztest",
    oracle="""
    WITH g AS (
      SELECT CASE WHEN CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),
                        '2pz')), 1, 8)) AS BIGINT) / 4294967296.0 < 0.5
                  THEN 1 ELSE 0 END AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv,
             user_id
      FROM events WHERE user_id IS NOT NULL
    ), u AS (
      SELECT arm, user_id, max(conv) AS converted FROM g GROUP BY arm, user_id
    ), s AS (
      SELECT CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS x1,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS x2
      FROM u
    )
    SELECT n1, x1, n2, x2,
           CASE WHEN n1 > 0 THEN CAST(x1 AS DOUBLE) / n1 END AS p1,
           CASE WHEN n2 > 0 THEN CAST(x2 AS DOUBLE) / n2 END AS p2,
           CASE WHEN n1 > 0 AND n2 > 0 AND x1 + x2 > 0 AND x1 + x2 < n1 + n2
                THEN (CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                     / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                            * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                            * (1.0 / n1 + 1.0 / n2))
                END AS z
    FROM s
    """,
)
def stats_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test on user-level conversion (md5-unit
    50/50 arm assignment, conversion = any purchase event) — the
    workhorse A/B significance readout next to the CUPED/mSPRT/DiD
    family. All counts are exact BIGINTs; the pooled-variance z is a
    fixed IEEE chain, NULL-guarded for empty arms and degenerate all/none
    conversion. Shape: one (arm, user) collapse, one 4-cell conditional
    rollup, scalar algebra on one row."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    from hw_kafka_flink_health_spark.operators.mlprep import hash_unit

    g = ev.select(
        (hash_unit(F.col("user_id"), "2pz") < 0.5).cast("int").alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
        "user_id",
    )
    u = g.groupBy("arm", "user_id").agg(F.max("conv").alias("converted"))
    s = u.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("x2"),
    )
    n1, x1, n2, x2 = F.col("n1"), F.col("x1"), F.col("n2"), F.col("x2")
    pp = (x1 + x2).cast("double") / (n1 + n2)
    return s.select(
        "n1",
        "x1",
        "n2",
        "x2",
        F.when(n1 > 0, x1.cast("double") / n1).alias("p1"),
        F.when(n2 > 0, x2.cast("double") / n2).alias("p2"),
        F.when(
            (n1 > 0) & (n2 > 0) & (x1 + x2 > 0) & (x1 + x2 < n1 + n2),
            (x1.cast("double") / n1 - x2.cast("double") / n2)
            / F.sqrt(
                pp * (F.lit(1.0) - pp) * (F.lit(1.0) / n1 + F.lit(1.0) / n2)
            ),
        ).alias("z"),
    )


@register(
    "orders_interpurchase_percentiles",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             date_diff('day',
               lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap
      FROM orders WHERE o_orderdate IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY gap) AS BIGINT) AS p25,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap) AS BIGINT) AS p50,
           CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY gap) AS BIGINT) AS p75,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap) AS BIGINT) AS p90
    FROM seq WHERE gap IS NOT NULL
    """,
)
def orders_interpurchase_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution: exact discrete quartiles +
    p90 of the day gaps between each customer's consecutive orders — the
    repurchase-cycle profile behind churn-window and CLV assumptions.
    Gaps come from one per-customer lag window (orderkey tie-break pins
    same-day sequences); percentile_disc over integer day counts picks
    identical elements in both engines. Shape: one customer-keyed window
    pass, one global quantile aggregate (which at 100 TB would move to
    the distinct-value cumulative rank idiom, the exact_quantiles
    pattern)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        orders.filter(F.col("o_orderdate").isNotNull())
        .select(
            F.datediff(
                F.to_date("o_orderdate"),
                F.lag(F.to_date("o_orderdate")).over(w),
            ).alias("gap")
        )
        .filter(F.col("gap").isNotNull())
    )
    return seq.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY gap) AS BIGINT)").alias("p25"),
        F.expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap) AS BIGINT)").alias("p50"),
        F.expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY gap) AS BIGINT)").alias("p75"),
        F.expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap) AS BIGINT)").alias("p90"),
    )


@register(
    "privacy_generalization_ladder",
    oracle="""
    WITH l0 AS (
      SELECT CAST(0 AS BIGINT) AS level, CAST(count(*) AS BIGINT) AS group_size
      FROM events
      GROUP BY event_type, date_trunc('hour', ts), CAST(floor(value / 50.0) AS BIGINT)
    ), l1 AS (
      SELECT CAST(1 AS BIGINT) AS level, CAST(count(*) AS BIGINT) AS group_size
      FROM events
      GROUP BY event_type, date_trunc('day', ts), CAST(floor(value / 200.0) AS BIGINT)
    ), l2 AS (
      SELECT CAST(2 AS BIGINT) AS level, CAST(count(*) AS BIGINT) AS group_size
      FROM events
      GROUP BY event_type, CAST(floor(value / 1000.0) AS BIGINT)
    ), all_l AS (
      SELECT * FROM l0 UNION ALL SELECT * FROM l1 UNION ALL SELECT * FROM l2
    ), per AS (
      SELECT level,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(min(group_size) AS BIGINT) AS min_group,
             CAST(sum(CASE WHEN group_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_below_k,
             CAST(sum(CASE WHEN group_size < 5 THEN group_size ELSE 0 END)
                  AS BIGINT) AS rows_suppressed
      FROM all_l GROUP BY level
    ), pick AS (
      SELECT min(level) AS chosen FROM per WHERE groups_below_k = 0
    )
    SELECT p.level, p.n_groups, p.min_group, p.groups_below_k, p.rows_suppressed,
           CAST(CASE WHEN p.level = pick.chosen THEN 1 ELSE 0 END AS BIGINT)
             AS chosen
    FROM per p, pick
    """,
)
def privacy_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Samarati-style generalization ladder for k-anonymity: evaluate a
    fixed 3-rung quasi-identifier coarsening (hour/50-band -> day/
    200-band -> type-only/1000-band) and pick the LEAST general rung
    whose every equivalence class reaches k=5 — the minimal-information-
    loss release policy, with the suppression cost (rows in sub-k
    groups) reported per rung. Exact integer counts throughout. Shape:
    three hash aggregates over the same scan (each a different grouping
    grain), a 3-row rollup, and a broadcast scalar pick."""
    ev = load_table(spark, sf_dir, "events")

    def level(lvl, *keys):
        return (
            ev.groupBy(*keys)
            .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
            .select(F.lit(lvl).cast("long").alias("level"), "group_size")
        )

    all_l = (
        level(0, "event_type", F.date_trunc("hour", "ts"),
              F.floor(F.col("value") / 50.0).cast("long"))
        .unionAll(level(1, "event_type", F.date_trunc("day", "ts"),
                        F.floor(F.col("value") / 200.0).cast("long")))
        .unionAll(level(2, "event_type",
                        F.floor(F.col("value") / 1000.0).cast("long")))
    )
    per = all_l.groupBy("level").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("group_size").cast("long").alias("min_group"),
        F.sum(F.when(F.col("group_size") < 5, 1).otherwise(0))
        .cast("long")
        .alias("groups_below_k"),
        F.sum(F.when(F.col("group_size") < 5, F.col("group_size")).otherwise(0))
        .cast("long")
        .alias("rows_suppressed"),
    )
    pick = per.filter(F.col("groups_below_k") == 0).agg(
        F.min("level").alias("chosen_level")
    )
    return per.crossJoin(F.broadcast(pick)).select(
        "level",
        "n_groups",
        "min_group",
        "groups_below_k",
        "rows_suppressed",
        F.when(F.col("level") == F.col("chosen_level"), 1)
        .otherwise(0)
        .cast("long")
        .alias("chosen"),
    )


@register(
    "stats_hill_tail_index",
    oracle="""
    WITH c AS (
      SELECT CAST(count(*) AS BIGINT) AS x
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id
    ), top AS (
      SELECT x, row_number() OVER (ORDER BY x DESC) AS rk
      FROM c ORDER BY x DESC LIMIT 51
    ), thr AS (
      SELECT x AS xk FROM top WHERE rk = 51
    ), hill AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             round(avg(ln(CAST(t.x AS DOUBLE) / thr.xk)), 6) AS hill_mean_log
      FROM top t, thr WHERE t.rk <= 50
    )
    SELECT k, hill_mean_log,
           CASE WHEN hill_mean_log > 0 THEN round(1.0 / hill_mean_log, 6) END
             AS tail_index_alpha
    FROM hill
    """,
)
def stats_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index of the events-per-user
    distribution (k = 50 upper order statistics): mean log-excess over
    the k+1-st largest count, inverted to alpha — the standard
    heavy-tail diagnostic behind skew-aware partitioning decisions
    (alpha < 2 means unbounded variance: plan for salting). Counts are
    exact integers; each log takes an identical exact ratio in both
    engines, and the 50-term mean is rounded at 1e-6 to absorb
    summation-order ulp drift. Shape: one user aggregate, a distributed
    top-51 (TakeOrdered), then scalar math on 51 rows. Below 51 users
    the threshold set is empty and both engines agree on the degenerate
    one-row (k=0, NULL) result."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("x"))
    top = (
        c.orderBy(F.desc("x"))
        .limit(51)
        .select(
            "x", F.row_number().over(Window.orderBy(F.desc("x"))).alias("rk")
        )
    )
    thr = top.filter(F.col("rk") == 51).select(F.col("x").alias("xk"))
    hill = (
        top.filter(F.col("rk") <= 50)
        .crossJoin(F.broadcast(thr))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.round(
                F.avg(F.log(F.col("x").cast("double") / F.col("xk"))), 6
            ).alias("hill_mean_log"),
        )
    )
    return hill.select(
        "k",
        "hill_mean_log",
        F.when(
            F.col("hill_mean_log") > 0, F.round(1.0 / F.col("hill_mean_log"), 6)
        ).alias("tail_index_alpha"),
    )


@register(
    "privacy_dp_noisy_counts",
    oracle="""
    WITH g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM events WHERE event_type IS NOT NULL GROUP BY event_type
    ), u AS (
      SELECT event_type, n,
             (CAST(concat('0x', substr(md5('dp|' || event_type), 1, 8))
                   AS BIGINT) + 0.5) / 4294967296.0 AS u01
      FROM g
    )
    SELECT event_type, n AS true_count,
           round(n + (CASE WHEN u01 < 0.5 THEN 1.0 ELSE -1.0 END)
                     * ln(1.0 - 2.0 * abs(u01 - 0.5)), 4) AS noisy_count,
           CAST(1.0 AS DOUBLE) AS epsilon
    FROM u
    """,
)
def privacy_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism noisy count release (ε = 1, sensitivity 1 for
    a per-entity count): noisy = n + Lap(1/ε) via inverse-CDF transform
    of a uniform draw — the mechanism every DP aggregate release is
    built on, next to the k-anonymity/l-diversity/t-closeness suite.

    The uniform is a PINNED md5 draw over the group key (the resampling
    pack's unit-draw idiom), so the whole release — including the noise
    — is replayed bit-for-bit by the DuckDB twin: the query demonstrates
    and TESTS the mechanism's algebra, while a production deployment
    would substitute fresh secret randomness for the pinned draw (with
    a deterministic seed the release is not actually private, which is
    exactly why the seed is the one swappable part). Emits the true
    count alongside for test-fixture transparency. One
    map-side-combined aggregate; noise is per-GROUP scalar algebra —
    free at any scale."""
    g = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    u01 = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp|"), F.col("event_type"))), 1, 8),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    sign = F.when(u01 < 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    noise = sign * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u01 - F.lit(0.5)))
    return g.select(
        "event_type",
        F.col("n").alias("true_count"),
        F.round(F.col("n") + noise, 4).alias("noisy_count"),
        F.lit(1.0).alias("epsilon"),
    )


@register(
    "stats_logrank_test",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority
      FROM orders WHERE o_orderdate IS NOT NULL
    ), r AS (
      SELECT o_custkey, o_orderdate,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS urg,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM o
    ), cust AS (
      SELECT o_custkey,
             min(CASE WHEN rn = 1 THEN o_orderdate END) AS t1,
             min(CASE WHEN rn = 2 THEN o_orderdate END) AS t2,
             CAST(min(CASE WHEN rn = 1 THEN urg END) AS BIGINT) AS grp
      FROM r GROUP BY 1
    ), h AS (SELECT max(o_orderdate) AS horizon FROM o),
    obs AS (
      SELECT grp,
             CASE WHEN t2 IS NOT NULL
                  THEN date_diff('day', CAST(t1 AS DATE), CAST(t2 AS DATE))
                  ELSE date_diff('day', CAST(t1 AS DATE), CAST(horizon AS DATE))
             END AS t,
             CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM cust, h
    ),
    tot AS (
      SELECT count(*)::BIGINT AS n_all, sum(grp)::BIGINT AS n_g1 FROM obs
    ),
    g AS (
      SELECT t, count(*)::BIGINT AS a, sum(grp)::BIGINT AS a1,
             sum(ev)::BIGINT AS d, sum(ev * grp)::BIGINT AS d1
      FROM obs GROUP BY t
    ),
    k AS (
      SELECT t, d, d1,
             n_all - CAST(coalesce(sum(a) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS n,
             n_g1 - CAST(coalesce(sum(a1) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS n1
      FROM g, tot
    ),
    s AS (
      SELECT count(*)::BIGINT AS n_event_times,
             CAST(sum(d1) AS BIGINT) AS observed1,
             sum(d * CAST(n1 AS DOUBLE) / n) AS expected1,
             sum(d * (CAST(n1 AS DOUBLE) / n) * (1 - CAST(n1 AS DOUBLE) / n)
                 * (n - d) / nullif(n - 1, 0)) AS var1
      FROM k WHERE d > 0
    )
    SELECT n_event_times, observed1, round(expected1, 4) AS expected1,
           round((observed1 - expected1) * (observed1 - expected1)
                 / nullif(var1, 0), 4) AS chi2
    FROM s
    """,
)
def stats_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing time-to-reorder survival
    between customers whose FIRST order was URGENT vs the rest — the
    two-group comparison that completes the survival pack next to
    Kaplan-Meier and Nelson-Aalen: at each distinct event time, observed
    group-1 events against the hypergeometric expectation d·n1/n, summed
    into the 1-df chi-square.

    Scale shape: per-customer (t1, t2, group) comes from ONE window pass
    over orders; observations then collapse to DISTINCT event times (the
    rank-statistics reduction — cumulative at-risk counts are windows
    over the |times| table, never the raw rows). All counts are exact
    BIGINTs; the O(1)-magnitude expectation/variance terms sum over
    |times| rows and the 4-decimal rounding absorbs their float jitter
    (round-grain rule: |x|·10^4 ≪ 2^45). Degenerate inputs (one group,
    all-censored, single at-risk) turn chi2 NULL via nullif/try_divide
    rather than erroring."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = orders.select(
        "o_custkey",
        "o_orderdate",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("urg"),
        F.row_number().over(w).alias("rn"),
    )
    cust = r.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rn") == 1, F.col("o_orderdate"))).alias("t1"),
        F.min(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias("t2"),
        F.min(F.when(F.col("rn") == 1, F.col("urg"))).cast("long").alias("grp"),
    )
    h = orders.agg(F.max("o_orderdate").alias("horizon"))
    obs = cust.crossJoin(F.broadcast(h)).select(
        "grp",
        F.when(
            F.col("t2").isNotNull(),
            F.datediff(F.col("t2").cast("date"), F.col("t1").cast("date")),
        )
        .otherwise(F.datediff(F.col("horizon").cast("date"), F.col("t1").cast("date")))
        .alias("t"),
        F.when(F.col("t2").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    tot = obs.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("grp").cast("long").alias("n_g1"),
    )
    g = obs.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("a"),
        F.sum("grp").cast("long").alias("a1"),
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.col("ev") * F.col("grp")).cast("long").alias("d1"),
    )
    cw = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    k = g.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "d1",
        (F.col("n_all") - F.coalesce(F.sum("a").over(cw), F.lit(0)))
        .cast("long")
        .alias("n"),
        (F.col("n_g1") - F.coalesce(F.sum("a1").over(cw), F.lit(0)))
        .cast("long")
        .alias("n1"),
    )
    p1 = F.col("n1").cast("double") / F.col("n")
    s = k.filter(F.col("d") > 0).agg(
        F.count(F.lit(1)).cast("long").alias("n_event_times"),
        F.sum("d1").cast("long").alias("observed1"),
        F.sum(F.col("d") * p1).alias("expected1"),
        F.sum(
            F.try_divide(
                F.col("d") * p1 * (1 - p1) * (F.col("n") - F.col("d")),
                F.col("n") - 1,
            )
        ).alias("var1"),
    )
    diff = F.col("observed1") - F.col("expected1")
    return s.select(
        "n_event_times",
        "observed1",
        F.round("expected1", 4).alias("expected1"),
        F.round(F.try_divide(diff * diff, F.col("var1")), 4).alias("chi2"),
    )


@register(
    "quantile_exact_disc_totalprice",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           quantile_disc(o_totalprice, 0.25) AS p25,
           quantile_disc(o_totalprice, 0.50) AS p50,
           quantile_disc(o_totalprice, 0.75) AS p75,
           quantile_disc(o_totalprice, 0.90) AS p90,
           quantile_disc(o_totalprice, 0.99) AS p99
    FROM orders WHERE o_totalprice IS NOT NULL
    """,
)
def quantile_exact_disc_totalprice(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT discrete quantiles (p25/p50/p75/p90/p99) of a continuous
    money column at fact cardinality — without `percentile_disc`'s
    single-partition sort and without `approx_percentile`'s error bound.

    The inverse-CDF identity: percentile_disc(q) is the smallest value
    whose cumulative count reaches ceil(q*N). groupBy value collapses N
    rows to the distinct-value table (one hash shuffle); the cumulative
    count rides `global_prefix_scan`'s Arrow tier (range shuffle +
    bounded carries — the same rewire class as the r12 rank stats,
    since a continuous money column's distinct grain is ~O(rows)); the
    five thresholds are integer cross-multiplications (100*cum >=
    pct*n avoids ceil AND division entirely), and each quantile is one
    conditional-min aggregate. The oracle is DuckDB's INDEPENDENT
    builtin quantile_disc, not a replay — the engines agree because
    both implement the same SQL-standard inverse-CDF convention (the
    r10 finance_var_historical parity, extended to five points).
    Output values are raw doubles from the data, untouched by
    arithmetic, so the hash comparison is bitwise."""
    from hw_kafka_flink_health_spark.operators.relational import (
        global_prefix_scan,
    )

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    byval = orders.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # Checkpoint the scan OUTPUT — tot and the threshold picks are two
    # consumers that would otherwise each replay the Arrow pass (the
    # scan's internal checkpoint sits below it, review r12).
    cums = global_prefix_scan(
        byval, ["c"], ["v"], out_cols=["cum"]
    ).localCheckpoint()
    # N = max of the monotone cumulative; coalesce(0) keeps the
    # all-NULL fixture on the oracle's one-row count(*)=0 shape.
    tot = cums.agg(
        F.coalesce(F.max("cum"), F.lit(0)).cast("long").alias("n")
    )
    j = cums.crossJoin(F.broadcast(tot))

    def pick(pct: int):
        # cum >= ceil(pct*n/100)  <=>  100*cum >= pct*n  (integers)
        return F.min(
            F.when(F.col("cum") * 100 >= F.col("n") * pct, F.col("v"))
        ).alias(f"p{pct}")

    # global (ungrouped) aggregate: exactly ONE output row even on an
    # empty value table — matching the oracle's aggregate shape
    picks = j.agg(pick(25), pick(50), pick(75), pick(90), pick(99))
    return picks.crossJoin(F.broadcast(tot)).select(
        "n", "p25", "p50", "p75", "p90", "p99"
    )
