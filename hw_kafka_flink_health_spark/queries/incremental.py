"""Incremental-maintenance queries: split-vs-full rollup equality and
exact distributed quantiles without a global sort.

Extension surface (SURVEY.md §2.C): the reference recomputes its batch
analysis from scratch each run (`/root/reference/src/spark_batch_analysis.py`);
these queries pin the machinery a 100 TB deployment uses instead —
algebraic partial merges for refresh, and rank selection by histogram
refinement for quantiles over data that must never be globally sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.incremental import (
    daily_partials,
    merge_partials,
)
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table


@register(
    "incremental_rollup",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           event_type AS key,
           count(*)::BIGINT AS cnt,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS sum_cents,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           (sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT * 10) // count(*) AS avg_milli
    FROM events
    GROUP BY 1, 2
    """,
)
def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily rollup maintained INCREMENTALLY: the events table is split
    into three disjoint ingest slices (by a hash of event_id — an
    adversarial split: every day's data arrives across different
    "loads"), each slice becomes algebraic partials on its own, and the
    partials are merged + finalized. The oracle is the ONE-SHOT
    aggregate over everything — equality proves the partial/merge/
    finalize algebra loses nothing, which is what lets a 100 TB rollup
    refresh touch only the new partition instead of all history.

    Plan shape: three partition-local partial aggregates (map-side
    combine each), one union, one hash re-aggregate on (day, key) —
    merge input is one row per key-day per slice, so the final shuffle
    is proportional to key cardinality, not event count.

    Output stays in EXACT integer units (cents; avg as milli-units via
    integer division): the partials are integer-exact, so the oracle
    comparison is boundary-proof — no round(double) can disagree across
    engines. `finalize_rollup` offers the human-facing float view.
    """
    ev = load_table(spark, sf_dir, "events")
    slices = [
        daily_partials(ev.filter(F.abs(F.hash("event_id")) % 3 == i))
        for i in range(3)
    ]
    merged = merge_partials(*slices)
    return merged.select(
        F.col("day").cast("timestamp").alias("day"),
        "key",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_cents").cast("long").alias("sum_cents"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
        F.expr("(sum_cents * 10) div cnt").alias("avg_milli"),
    )


@register(
    "exact_quantiles",
    oracle="""
    SELECT CAST(q AS DOUBLE) AS q, val FROM (
      SELECT 0.25 AS q, quantile_disc(value, 0.25) AS val FROM events
      UNION ALL
      SELECT 0.50, quantile_disc(value, 0.50) FROM events
      UNION ALL
      SELECT 0.99, quantile_disc(value, 0.99) FROM events
    ) t
    """,
)
def exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p25/p50/p99 of events.value with no global sort.

    `approx_percentile` trades error for speed; sorting 100 TB to take
    three ranks is absurd. This is rank selection by histogram
    refinement (`operators/quantiles.py:exact_quantiles`): one scan
    builds a fixed-width bucket histogram (map-side combined, ~4k rows
    shuffled regardless of input size), the driver locates each target
    rank's bucket from the bounded cumulative histogram, and a second
    scan sorts ONLY the rows inside those buckets (a ~1/4000 sliver)
    to pick the exact ranked values. Same discrete-quantile semantics
    as DuckDB's quantile_disc: lower interpolation, value at row
    floor((n-1) * q) of the ascending order.
    """
    from hw_kafka_flink_health_spark.operators.quantiles import exact_quantiles as eq

    ev = load_table(spark, sf_dir, "events")
    return eq(ev, "value", [0.25, 0.50, 0.99])


@register(
    "cdc_apply_log",
    oracle="""
    WITH log AS (
      SELECT user_id AS key, ts, event_id,
             CASE WHEN event_type = 'error' THEN 'D'
                  WHEN event_type = 'signup' THEN 'I'
                  ELSE 'U' END AS op,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS payload
      FROM events
    ), latest AS (
      SELECT key, op, payload,
             row_number() OVER (PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn
      FROM log
    )
    SELECT key, payload, CAST(op AS VARCHAR) AS last_op
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture APPLY with deletes: replay an ordered change
    log (insert/update/delete ops derived deterministically from the
    events stream) into final table state — last writer per key wins, and
    a trailing delete removes the key entirely (the semantics MERGE's
    upsert-only path can't express). One window per key on (ts, event_id)
    — the same single-exchange shape as SCD2; at scale the log is
    partition-pruned to the replay horizon first."""
    ev = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
    )
    log = ev.select(
        F.col("user_id").alias("key"),
        "ts",
        "event_id",
        op.alias("op"),
        F.floor(F.col("value") * 1000 + 0.5).cast("bigint").alias("payload"),
    )
    w = Window.partitionBy("key").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    latest = log.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return latest.filter(F.col("op") != "D").select(
        "key", "payload", F.col("op").alias("last_op")
    )


@register(
    "incremental_join_view",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN-aggregate view — the delta
    algebra every warehouse refresh engine implements. The base tables
    are split into old/new batches (orders: every 10th key is the new
    batch; lineitem: every 7th order's lines), and the maintained view is
    built as base + delta propagation:

        (O0 u dO) |x| (L0 u dL)
          = O0|x|L0  (base, assumed materialized)
          + dO|x|L0  (new orders against old lines)
          + O |x| dL (ALL orders against new lines — covers dO|x|dL)

    Each delta term aggregates to partials and the final agg merges them,
    so a refresh touches only delta-sized joins, never re-joining the
    full fact tables — the point of IVM at 100 TB. The oracle is the
    full-recompute join: the maintained result must be indistinguishable
    from recomputation."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    o_new = F.col("o_orderkey") % 10 == 0
    l_new = F.col("l_orderkey") % 7 == 0
    o0, d_o = orders.filter(~o_new), orders.filter(o_new)
    l0, d_l = li.filter(~l_new), li.filter(l_new)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("rev_cents"),
        )

    base = agg(o0.join(l0, F.col("o_orderkey") == F.col("l_orderkey")))
    delta1 = agg(d_o.join(l0, F.col("o_orderkey") == F.col("l_orderkey")))
    delta2 = agg(orders.join(d_l, F.col("o_orderkey") == F.col("l_orderkey")))
    return (
        base.unionByName(delta1)
        .unionByName(delta2)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("rev_cents").cast("long").alias("rev_cents"),
        )
    )


@register(
    "merkle_block_diff",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
    ), b AS (
      -- replica with planted divergence: updates on %1000==7, deletes on %1000==13
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 1000 = 7 THEN o_custkey + 1 ELSE o_custkey END
               AS o_custkey,
             o_orderstatus
      FROM orders WHERE o_orderkey % 1000 <> 13
    ), da AS (
      SELECT o_orderkey // 4096 AS block,
             sum(CAST(concat('0x', substr(md5(concat(
                   CAST(o_orderkey AS VARCHAR), '|',
                   CAST(o_custkey AS VARCHAR), '|', o_orderstatus)), 1, 12))
                 AS BIGINT))::BIGINT AS digest,
             count(*)::BIGINT AS n
      FROM a GROUP BY 1
    ), db AS (
      SELECT o_orderkey // 4096 AS block,
             sum(CAST(concat('0x', substr(md5(concat(
                   CAST(o_orderkey AS VARCHAR), '|',
                   CAST(o_custkey AS VARCHAR), '|', o_orderstatus)), 1, 12))
                 AS BIGINT))::BIGINT AS digest,
             count(*)::BIGINT AS n
      FROM b GROUP BY 1
    )
    SELECT coalesce(da.block, db.block) AS block,
           coalesce(da.n, 0) AS n_a, coalesce(db.n, 0) AS n_b
    FROM da FULL OUTER JOIN db ON da.block = db.block
    WHERE da.digest IS DISTINCT FROM db.digest
    """,
)
def merkle_block_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table comparison by block digest (the Merkle-tree
    first level, Cassandra-repair style): instead of full-outer-joining
    two 100 TB replicas row-by-row (two full shuffles on the key), each
    side folds to ONE row per 4096-key block — an order-independent
    digest (sum of 48-bit md5 prefixes: bounded 2^60 < int64, portable
    across engines) plus a row count — and only the O(blocks)-sized
    digest tables meet. Blocks that differ (here: planted updates at
    o_orderkey%1000==7 and deletes at %1000==13 on the 'replica') are
    exactly the ranges a repair job would then re-sync row-level. Both
    digest aggs are map-side combined; the final join is broadcastable
    at any table size."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select("o_orderkey", "o_custkey", "o_orderstatus")
    b = orders.filter(F.col("o_orderkey") % 1000 != 13).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 1000 == 7, F.col("o_custkey") + 1)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        "o_orderstatus",
    )

    def digests(df: DataFrame) -> DataFrame:
        row_hash = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey").cast("string"),
                        F.col("o_custkey").cast("string"),
                        F.col("o_orderstatus"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        return df.groupBy(
            F.floor(F.col("o_orderkey") / 4096).cast("long").alias("block")
        ).agg(
            F.sum(row_hash).cast("long").alias("digest"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )

    da, db = digests(a), digests(b)
    return (
        da.join(db.withColumnRenamed("digest", "digest_b").withColumnRenamed("n", "n_b"),
                "block", "full_outer")
        .filter(~F.col("digest").eqNullSafe(F.col("digest_b")))
        .select(
            "block",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
        )
    )


@register(
    "versioned_time_travel",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM orders
    WHERE o_orderkey % 4 IN (0, 1) AND o_custkey BETWEEN 100 AND 500
    GROUP BY 1
    """,
)
def versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse commit -> time-travel read -> manifest pruning, end to
    end against a live table (`operators/versioned.py`): v0 commits a
    clustered overwrite (orderkey%4==0), v1 a clustered APPEND
    (orderkey%4==1, sharing v0's files + carrying its manifest stats
    forward), v2 an overwrite that logically REPLACES everything — then
    the query time-travels back to the pinned v1 with a metadata-pruned
    range read (only files whose [min,max] o_custkey overlaps [100,500]
    enter the plan). The DuckDB oracle replays the v1 snapshot's logical
    content INDEPENDENTLY from the source table (orderkey%4 in (0,1) +
    the same range predicate), so a commit that mixes versions, a time
    travel that sees v2, or a pruning pass that drops a live file all
    break the value hash. File-list-level replay (manifest -> DuckDB
    read_parquet([...])) is additionally pinned in tests/test_versioned.py."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        scratch_table_dir,
        commit_snapshot,
        commit_snapshot_clustered,
        read_snapshot_pruned,
    )

    table_dir = scratch_table_dir("spark_graft_versioned_tt_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    commit_snapshot_clustered(
        orders.filter(F.col("o_orderkey") % 4 == 0),
        table_dir,
        cluster_col="o_custkey",
        n_files=4,
    )
    commit_snapshot_clustered(
        orders.filter(F.col("o_orderkey") % 4 == 1),
        table_dir,
        cluster_col="o_custkey",
        n_files=4,
        mode="append",
    )
    # v2: overwrite with disjoint data — must be invisible to the v1 read
    commit_snapshot(orders.filter(F.col("o_orderkey") % 4 == 2), table_dir)
    v1 = read_snapshot_pruned(spark, table_dir, lo=100, hi=500, version=1)
    return v1.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )


@register(
    "versioned_zorder_prune",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*)::BIGINT AS n_orders,
           CAST(sum(o_custkey) AS BIGINT) AS sum_custkey
    FROM orders
    WHERE o_custkey BETWEEN 200 AND 700
      AND o_totalprice BETWEEN 50000 AND 150000
    GROUP BY 1
    """,
)
def versioned_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order OPTIMIZE end to end: commit orders Z-ORDERED BY
    (o_custkey, o_totalprice) — interleaved-bits clustering, pure
    Catalyst bit math — then answer a conjunctive 2-D range predicate
    through `read_snapshot_pruned_2d`, which drops every file whose
    manifest [min,max] misses EITHER dimension before Spark lists it.
    This is the multi-column pruning a single-column sort cannot provide
    (each selective dimension alone skips ~sqrt-fraction of files —
    measured in tests/test_versioned.py). The oracle replays the same
    predicate on the source table, so a layout or pruning bug that drops
    or duplicates rows breaks the value hash."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        scratch_table_dir,
        commit_snapshot_zordered,
        read_snapshot_pruned_2d,
    )

    table_dir = scratch_table_dir("spark_graft_versioned_z_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    commit_snapshot_zordered(
        orders, table_dir, cluster_cols=["o_custkey", "o_totalprice"], n_files=16
    )
    hit = read_snapshot_pruned_2d(
        spark,
        table_dir,
        {"o_custkey": (200, 700), "o_totalprice": (50000.0, 150000.0)},
    )
    return hit.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("o_custkey").cast("long").alias("sum_custkey"),
    )


@register(
    "versioned_optimize_compact",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM orders
    WHERE o_orderkey % 8 IN (0, 1, 2, 3)
    GROUP BY 1
    """,
)
def versioned_optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file maintenance end to end: four append commits build the
    fragmented table an ingest stream produces, OPTIMIZE rewrites the
    small files into fewer large ones (content-identical next version,
    old versions still time-travelable, cost O(small bytes)), and the
    post-compaction read must aggregate to exactly what the source table
    says — a compaction that loses, duplicates, or reorders-into-wrong-
    files data breaks the value hash. File-count/history/stats behavior
    is pinned in tests/test_versioned.py."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        scratch_table_dir,
        commit_snapshot,
        compact_snapshot,
        read_snapshot,
    )

    table_dir = scratch_table_dir("spark_graft_versioned_opt_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    for m in range(4):
        commit_snapshot(
            orders.filter(F.col("o_orderkey") % 8 == m).coalesce(2),
            table_dir,
            mode="append",
        )
    compact_snapshot(spark, table_dir, small_file_bytes=64 * 1024 * 1024)
    return read_snapshot(spark, table_dir).groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )


@register(
    "versioned_delete_vectors",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM orders
    WHERE o_orderkey % 5 <> 0 AND o_custkey % 7 <> 0
    GROUP BY 1
    """,
)
def versioned_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE via deletion vectors, end to end: commit orders
    once, then two delete_where commits record (file, row_index)
    sidecars — data files untouched and shared with v0 (time travel still
    sees every row), delete cost O(matched), never O(table) — and the
    merge-on-read path anti-joins the vectors out of the scan
    (`operators/versioned.py:delete_where/_read_rows`, the Delta/Iceberg
    deletion-vector mechanism). The oracle replays the surviving-row
    aggregate independently from the source table, so a vector that
    misses rows, hits the wrong positions, or double-applies breaks the
    value hash. Vector purge on compaction + pruned-read composition are
    pinned in tests/test_versioned.py."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        scratch_table_dir,
        commit_snapshot,
        delete_where,
        read_snapshot,
    )

    table_dir = scratch_table_dir("spark_graft_versioned_dv_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    commit_snapshot(orders, table_dir)
    delete_where(spark, table_dir, "o_orderkey % 5 = 0")
    delete_where(spark, table_dir, "o_custkey % 7 = 0")
    return read_snapshot(spark, table_dir).groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )


@register(
    "versioned_merge_upsert",
    oracle="""
    WITH final AS (
      SELECT o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
      UNION ALL
      SELECT o_orderpriority, o_totalprice + 1000
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT o_orderpriority AS priority,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM final GROUP BY 1
    """,
)
def versioned_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO end to end (`operators/versioned.py:merge_into`): the
    base version holds even-keyed orders; the source holds every
    key%3==0 order with a +1000 price adjustment. Matched rows are
    UPDATED merge-on-read style (deletion-vector tombstone + appended
    replacement — no file rewrite), unmatched source rows INSERT, and
    the final read must equal the independent SQL replay (base minus
    matched originals, plus all adjusted source rows). One new version,
    cost O(matched + source); update/delete/insert matrix, duplicate-key
    rejection, and history preservation pinned in
    tests/test_versioned.py."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        scratch_table_dir,
        commit_snapshot,
        merge_into,
        read_snapshot,
    )

    table_dir = scratch_table_dir("spark_graft_versioned_mrg_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    commit_snapshot(orders.filter(F.col("o_orderkey") % 2 == 0), table_dir)
    source = orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000
    )
    merge_into(spark, table_dir, source, ["o_orderkey"])
    return read_snapshot(spark, table_dir).groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )


@register(
    "versioned_incremental_delta",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM orders GROUP BY 1
    """,
)
def versioned_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance off the manifest diff
    (`operators/versioned.py:read_version_delta`): three append commits
    build the table; the rollup is computed ONCE over v0 and then folded
    forward by aggregating ONLY the files each later version added —
    partial aggregates merge by summing (count and integer-cent sums are
    commutative monoids), so maintenance cost is O(delta) per version
    while the oracle recomputes from the full source table. At 100 TB
    this is the difference between an hourly rollup that reads an hour
    and one that rescans the lake; the file-level delta proof and the
    non-append guard live in tests/test_versioned.py."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        scratch_table_dir,
        commit_snapshot,
        read_snapshot,
        read_version_delta,
    )

    table_dir = scratch_table_dir("spark_graft_versioned_inc_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    for m in range(3):
        commit_snapshot(
            orders.filter(F.col("o_orderkey") % 3 == m), table_dir, mode="append"
        )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_orderpriority").alias("priority")).agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents"),
        )

    folded = partial(read_snapshot(spark, table_dir, version=0))
    for a, b in ((0, 1), (1, 2)):
        folded = folded.unionByName(partial(read_version_delta(spark, table_dir, a, b)))
    return folded.groupBy("priority").agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.sum("rev_cents").cast("long").alias("rev_cents"),
    )


@register(
    "versioned_check_reject",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
           CAST(1 AS BIGINT) AS final_version
    FROM orders
    WHERE o_orderkey % 3 IN (0, 1)
    GROUP BY 1
    """,
)
def versioned_check_reject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-time CHECK constraint enforcement, end to end
    (`operators/versioned.py:commit_snapshot_checked`): v0 commits a
    clean slice, then an append whose rows ALL violate the table's CHECK
    is rejected BEFORE anything publishes — no version, no manifest, no
    data files — and a subsequent clean append lands as v1. The result
    carries the table's final version number as a column, so a rejected
    commit that still advanced the version (or a rejection that silently
    dropped the clean append) breaks the value hash, not just a test.
    The oracle replays the two CLEAN slices only."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        ConstraintViolationError,
        commit_snapshot_checked,
        current_version,
        read_snapshot,
        scratch_table_dir,
    )

    table_dir = scratch_table_dir("spark_graft_versioned_chk_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    # the table's CHECK treats a NULL result as a violation (strict
    # boundary, pinned in test_versioned) — admit NULL prices explicitly
    # so pathological corpora (nulls fuzz) commit the same slices the
    # oracle replays
    commit_snapshot_checked(
        orders.filter(F.col("o_orderkey") % 3 == 0), table_dir,
        check="o_totalprice IS NULL OR o_totalprice > 0",
    )
    bad = orders.filter(F.col("o_orderkey") % 3 == 2)
    # on pathological corpora (fuzz fixtures) this slice can be EMPTY —
    # an empty batch violates nothing and would legitimately commit,
    # shifting the version; only exercise the rejection when it can fire
    if bad.limit(1).count() > 0:
        try:
            # every row of this batch violates the constraint -> whole
            # commit rejected at the table boundary
            commit_snapshot_checked(
                bad, table_dir, check="o_orderkey % 3 <> 2", mode="append"
            )
            raise AssertionError("CHECK-violating commit must be rejected")
        except ConstraintViolationError:
            pass
    commit_snapshot_checked(
        orders.filter(F.col("o_orderkey") % 3 == 1), table_dir,
        check="o_totalprice IS NULL OR o_totalprice > 0", mode="append",
    )
    return read_snapshot(spark, table_dir).groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
        F.lit(current_version(table_dir)).cast("long").alias("final_version"),
    )


@register(
    "versioned_occ_retry",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
           CAST(2 AS BIGINT) AS final_version
    FROM orders
    WHERE o_orderkey % 4 IN (0, 1, 2)
    GROUP BY 1
    """,
)
def versioned_occ_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The optimistic-concurrency retry loop's OBSERVABLE outcome
    (`operators/versioned.py:commit_snapshot` with `expect_version`):
    writer B reads version 0, writer A appends v1 underneath it, so B's
    CAS append on the stale base raises VersionConflictError (staging
    nothing durable — the conflict path unstages its files); B then
    re-reads and retries against the new base, landing as v2. The final
    table must hold base ∪ A ∪ B exactly once each at exactly version 2 —
    a lost append, a double apply, or a version skew breaks the hash.
    The two-writers-never-share-a-version property itself is pinned with
    real threads in tests/test_versioned.py."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        VersionConflictError,
        commit_snapshot,
        current_version,
        read_snapshot,
        scratch_table_dir,
    )

    table_dir = scratch_table_dir("spark_graft_versioned_occ_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    commit_snapshot(orders.filter(F.col("o_orderkey") % 4 == 0), table_dir)  # v0
    b_base = current_version(table_dir)  # writer B reads its base: 0
    commit_snapshot(  # writer A sneaks in: v1
        orders.filter(F.col("o_orderkey") % 4 == 1), table_dir, mode="append"
    )
    try:
        commit_snapshot(
            orders.filter(F.col("o_orderkey") % 4 == 2), table_dir,
            mode="append", expect_version=b_base,
        )
        raise AssertionError("stale CAS base must raise")
    except VersionConflictError:
        pass  # the standard OCC loop: re-read, re-derive, retry
    commit_snapshot(
        orders.filter(F.col("o_orderkey") % 4 == 2), table_dir,
        mode="append", expect_version=current_version(table_dir),
    )  # v2
    return read_snapshot(spark, table_dir).groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
        F.lit(current_version(table_dir)).cast("long").alias("final_version"),
    )


@register(
    "versioned_schema_evolution",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*)::BIGINT AS n_orders,
           CAST(count(CASE WHEN o_orderkey % 2 = 1
                           THEN 'ch' || CAST(o_orderkey % 3 AS VARCHAR) END)
                AS BIGINT) AS n_with_channel,
           CAST(count(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT) AS n_v0_rows
    FROM orders GROUP BY 1
    """,
)
def versioned_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a versioned table, value-oracled: v0 commits a
    narrow schema, v1 APPENDS rows carrying a NEW `o_channel` column
    (mergeSchema read: old files surface it as NULL — no rewrite of v0's
    files, the O(new-data) evolution posture). The latest read counts
    non-null channels per priority, so an evolution that nulls the new
    column, backfills old rows, or drops v0 rows breaks the hash; the
    pre-evolution version staying narrow is pinned in
    tests/test_versioned.py."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot,
        read_snapshot,
        scratch_table_dir,
    )

    table_dir = scratch_table_dir("spark_graft_versioned_evo_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    commit_snapshot(orders.filter(F.col("o_orderkey") % 2 == 0), table_dir)  # v0
    evolved = orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_channel", F.concat(F.lit("ch"), (F.col("o_orderkey") % 3).cast("string"))
    )
    commit_snapshot(evolved, table_dir, mode="append")  # v1: wider schema
    return read_snapshot(spark, table_dir).groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count("o_channel").cast("long").alias("n_with_channel"),
        F.count(F.when(F.col("o_channel").isNull(), 1))
        .cast("long")
        .alias("n_v0_rows"),
    )


@register(
    "versioned_restore",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM orders
    WHERE o_orderkey % 3 IN (0, 1)
    GROUP BY 1
    """,
)
def versioned_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE / rollback end to end: v0 commits a third of orders, v1
    appends another third, v2 is a destructive DELETE of every order over
    100k (the "oops"), v3 RESTOREs to v1 — a metadata-only commit whose
    manifest re-references v1's files, so rollback cost is O(manifest)
    no matter how large the table. The latest read must equal v1's
    logical content exactly; the DuckDB oracle replays that content
    INDEPENDENTLY from the source table (orderkey%3 in (0,1)), so a
    restore that resurrects the deletion vectors, drops an appended
    file, or publishes the wrong base breaks the value hash. History
    preservation (v2 still shows the delete) is pinned in
    tests/test_versioned.py."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot,
        delete_where,
        restore_snapshot,
        read_snapshot,
        scratch_table_dir,
    )

    table_dir = scratch_table_dir("spark_graft_versioned_restore_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    commit_snapshot(orders.filter(F.col("o_orderkey") % 3 == 0), table_dir)
    commit_snapshot(
        orders.filter(F.col("o_orderkey") % 3 == 1), table_dir, mode="append"
    )
    delete_where(spark, table_dir, F.col("o_totalprice") > 100000)
    restore_snapshot(table_dir, 1)
    latest = read_snapshot(spark, table_dir)
    return latest.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )


@register(
    "versioned_tag_read",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM orders
    WHERE o_orderkey % 3 = 0
    GROUP BY 1
    """,
)
def versioned_tag_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-snapshot TAGS end to end (`operators/versioned.py:create_tag`):
    v0 commits the training corpus and gets tagged 'train-run-1'; two
    overwrites later, a keep_last=1 vacuum expires all untagged history —
    but the tag pins v0's manifest and files outside the retention
    window, so the read-by-tag still reproduces the exact corpus that
    run trained on (the Iceberg/Delta named-snapshot reproducibility
    contract). The oracle replays v0's logical content independently
    from the source table, so a vacuum that sweeps a tagged file, a tag
    resolving to the wrong version, or a read that sees newer data all
    break the value hash."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot,
        create_tag,
        read_snapshot,
        scratch_table_dir,
        vacuum,
    )

    table_dir = scratch_table_dir("spark_graft_versioned_tag_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    commit_snapshot(orders.filter(F.col("o_orderkey") % 3 == 0), table_dir)  # v0
    create_tag(table_dir, "train-run-1")
    commit_snapshot(orders.filter(F.col("o_orderkey") % 3 == 1), table_dir)  # v1
    commit_snapshot(orders.filter(F.col("o_orderkey") % 3 == 2), table_dir)  # v2
    vacuum(table_dir, keep_last=1, orphan_ttl_seconds=0.0)
    pinned = read_snapshot(spark, table_dir, tag="train-run-1")
    return pinned.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )


@register(
    "versioned_branch_merge",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM orders
    WHERE o_orderkey % 4 IN (0, 1)
    GROUP BY 1
    """,
)
def versioned_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Git-like BRANCHES end to end (`operators/versioned.py:
    create_branch`): main commits a quarter of orders (v0); an
    experiment branch forks, appends a second quarter, and main readers
    keep seeing only v0 the whole time (asserted mid-query); a
    fast-forward merge then publishes the branch head to main. The final
    main read must equal the two quarters exactly — the DuckDB oracle
    replays that content INDEPENDENTLY from the source table, so a merge
    that drops the branch's appended files, leaks the branch into main
    early, or advances to the wrong manifest breaks the value hash.
    Conflict detection, vacuum pinning, and CAS races are pinned in
    tests/test_versioned.py."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot,
        commit_to_branch,
        create_branch,
        merge_branch,
        read_snapshot,
        scratch_table_dir,
    )

    table_dir = scratch_table_dir("spark_graft_versioned_branch_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    commit_snapshot(orders.filter(F.col("o_orderkey") % 4 == 0), table_dir)
    create_branch(table_dir, "exp")
    commit_to_branch(
        orders.filter(F.col("o_orderkey") % 4 == 1),
        table_dir,
        "exp",
        mode="append",
    )
    # branch isolation: main must still be exactly v0 pre-merge
    main_rows = read_snapshot(spark, table_dir).count()
    v0_rows = orders.filter(F.col("o_orderkey") % 4 == 0).count()
    assert main_rows == v0_rows, (main_rows, v0_rows)
    merge_branch(table_dir, "exp")
    latest = read_snapshot(spark, table_dir)
    return latest.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )


@register(
    "versioned_branch_rebase",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM orders
    WHERE o_orderkey % 4 IN (0, 1, 2)
    GROUP BY 1
    """,
)
def versioned_branch_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch REBASE end to end (`operators/versioned.py:rebase_branch`):
    main commits quarter 0 (v0); a branch forks and appends quarter 1;
    main then appends quarter 2, moving past the fork base — the merge
    is now non-fast-forwardable and must raise MergeConflictError
    (asserted mid-query, the documented conflict contract). rebase_branch
    re-forks the branch from current main by re-applying its
    file-additive delta (metadata-only, no data movement), after which
    the merge succeeds. The final main read must equal quarters 0+1+2
    exactly — the DuckDB oracle replays that content independently from
    the source table, so a rebase that drops the branch's files,
    duplicates main's, or forks from the wrong manifest breaks the
    value hash. Non-rebasable shapes (overwrite/DV branches) and CAS
    races are pinned in tests/test_versioned.py."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        MergeConflictError,
        commit_snapshot,
        commit_to_branch,
        create_branch,
        merge_branch,
        read_snapshot,
        rebase_branch,
        scratch_table_dir,
    )

    table_dir = scratch_table_dir("spark_graft_versioned_rebase_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    commit_snapshot(orders.filter(F.col("o_orderkey") % 4 == 0), table_dir)
    create_branch(table_dir, "exp")
    commit_to_branch(
        orders.filter(F.col("o_orderkey") % 4 == 1),
        table_dir,
        "exp",
        mode="append",
    )
    commit_snapshot(
        orders.filter(F.col("o_orderkey") % 4 == 2), table_dir, mode="append"
    )
    # main moved past the fork base: the merge MUST conflict first
    try:
        merge_branch(table_dir, "exp", delete=False)
        raise AssertionError("merge past a moved main must conflict")
    except MergeConflictError:
        pass
    rebase_branch(table_dir, "exp")
    merge_branch(table_dir, "exp")
    latest = read_snapshot(spark, table_dir)
    return latest.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )


@register(
    "versioned_changefeed",
    oracle="""
    WITH src AS (
      SELECT o_orderkey AS k, o_orderpriority AS p,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT k, p, cents, 'insert' AS _change_type
    FROM src WHERE k % 3 = 1 AND k % 7 <> 0 AND k % 5 <> 0
    UNION ALL
    SELECT k, p, cents + 1, 'insert' FROM src WHERE k % 5 = 0
    UNION ALL
    SELECT k, p, cents, 'delete'
    FROM src WHERE k % 3 = 0 AND (k % 7 = 0 OR k % 5 = 0)
    """,
)
def versioned_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NET change-data-feed across a mixed DML span
    (`operators/versioned.py:read_changes` — the Delta CDF analog):
    v0 inserts a third of orders, v1 appends another third, v2 DELETEs
    k%7 rows via deletion vectors, v3 MERGEs an upsert (k%5 source:
    cents+1 updates where live, inserts otherwise). The feed from v0 to
    v3 must net to: v1's rows that survived (original cents, minus the
    merge-updated ones whose replacement supersedes them), every merge
    row at cents+1 as inserts, and deletes ONLY for v0-file rows
    (v1-file rows deleted in-span cancel out; merge updates surface as
    delete+insert). The DuckDB oracle replays that arithmetic of
    modular slices straight from the source table — any mis-netted
    insert, leaked in-span delete, or wrong-file DV attribution breaks
    the value hash. Cost shape: inserts read only span-added files,
    deletes only the DV-targeted old files — O(changes), not O(table)."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot,
        delete_where,
        merge_into,
        read_changes,
        scratch_table_dir,
    )

    table_dir = scratch_table_dir("spark_graft_versioned_cdf_")
    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    v0 = commit_snapshot(src.filter(F.col("k") % 3 == 0), table_dir)
    commit_snapshot(src.filter(F.col("k") % 3 == 1), table_dir, mode="append")
    delete_where(spark, table_dir, "k % 7 = 0")
    merged_src = src.filter(F.col("k") % 5 == 0).withColumn(
        "cents", F.col("cents") + 1
    )
    v3 = merge_into(spark, table_dir, merged_src, ["k"])
    return read_changes(spark, table_dir, v0, v3)
