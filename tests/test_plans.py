"""Physical-plan regression tests — the 100 TB posture, asserted.

Correctness tests say the answer is right; these say the PLAN is the one
that survives a 1000x scale-up: filters reach the parquet scan, column
pruning holds, small dims broadcast, aggregations shuffle once, global
top-k never sorts the world.
"""

from __future__ import annotations

import re

import pytest

from hw_kafka_flink_health_spark.cache import conf_override
from hw_kafka_flink_health_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_single_shuffle(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    assert plan.count("Exchange hashpartitioning") == 1  # partial+final agg


def test_q1_column_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    scan = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert scan, plan
    cols = scan.group(1).split(",")
    # 7 of 11 lineitem columns needed; a full-width scan is a regression
    assert len(cols) <= 7, cols


def test_q3_topk_and_broadcast(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT 10
    assert "BroadcastHashJoin" in plan  # customer dim broadcast


def test_q5_join_pipeline_single_shuffle(spark):
    plan = plan_of(spark, "q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 4  # all dims broadcast
    # lineitem flows through the join pipeline into the final agg with
    # exactly one hash shuffle (the groupBy)
    assert plan.count("Exchange hashpartitioning") == 1


def test_broadcast_join_no_fact_shuffle_before_agg(spark):
    plan = plan_of(spark, "join_broadcast_part_revenue")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_global_topk_avoids_total_sort(spark):
    plan = plan_of(spark, "topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_parse_pipeline_stays_jvm_side(spark):
    """The reference's per-record Python maps must have become pure
    Catalyst expressions: no Python eval nodes anywhere."""
    for name in ("hr_parse_contract", "hr_alerts_tumbling", "hello_annotate"):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_cosine_topk_broadcasts_queries(spark):
    plan = plan_of(spark, "embedding_cosine_topk")
    # query set broadcast: corpus side is never shuffled for the join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # exactly one shuffle: the per-query window ranking
    assert plan.count("Exchange hashpartitioning") == 1


def test_q4_exists_becomes_semi_join_with_pushdown(spark):
    plan = plan_of(spark, "q4_priority_exists")
    assert "LeftSemi" in plan
    assert "GreaterThan(l_quantity,45" in plan  # pushed to the lineitem scan


def test_q19_disjunction_pushes_per_side_filters(spark):
    plan = plan_of(spark, "q19_disjunctive_predicates")
    assert "BroadcastHashJoin" in plan  # part broadcasts, equi key extracted
    # Catalyst derives a pushable brand filter for the part scan from the
    # OR-of-ANDs; a plan where the part scan reads everything is a regression
    assert "Brand#12" in plan.split("BroadcastHashJoin")[-1] or "In(p_brand" in plan


def test_q22_not_exists_becomes_anti_join(spark):
    plan = plan_of(spark, "q22_dormant_customers")
    assert "LeftAnti" in plan


def test_q15_max_is_broadcast_not_global_window(spark):
    plan = plan_of(spark, "q15_top_supplier")
    assert "Window" not in plan  # the max must not be a single-partition window


def test_q17_per_part_avg_broadcasts_back(spark):
    plan = plan_of(spark, "q17_small_quantity_revenue")
    assert "BroadcastHashJoin" in plan


def test_jaccard_postings_no_inferred_generate_filter(spark):
    """InferFiltersFromGenerate must not push a size(shingles) > 0
    predicate into the documents scan: the pushed form inlines the whole
    shingle HOF chain un-staged (split() re-evaluated per element) and
    re-runs construction per row — measured 5x on the postings pass.
    explode_outer + isNotNull keeps the scan clean.

    The pairs pipeline is checkpointed into the session-keyed pairs
    cache (r12), so the visible plan starts at Scan ExistingRDD —
    assert on the CAPTURED pre-checkpoint executed subtree instead, the
    same window the catalog window gate uses."""
    from hw_kafka_flink_health_spark.operators import dedup as dd
    from hw_kafka_flink_health_spark.plans import capture_checkpoints

    dd._PAIRS.clear()
    captured: list = []
    executed: list = []
    with capture_checkpoints(captured, executed):
        QUERIES["dedup_ngram_jaccard"](spark, SF)
    assert executed, "pairs checkpoint never fired — dead capture"
    plan = "\n".join(executed)
    assert "DataFilters: [(size" not in plan, plan[:2000]
    # the documents scan must carry no data filters at all
    assert "DataFilters: []" in plan


def test_funnel_single_exchange(spark):
    """The three stage-time window passes plus the per-user collapse must
    all ride ONE hash exchange on user_id — a second shuffle of the fact
    table is a regression (the naive 3-way self-join shape)."""
    plan = plan_of(spark, "funnel_conversion")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_rollup_reuses_hourly_exchange_at_runtime(spark):
    """The day grain must re-aggregate the hourly partials, not re-scan
    raw events. The two union branches share an identical exchange
    subtree; AQE must stitch them at runtime (ReusedExchange), so events
    is physically scanned once. Asserted on the FINAL adaptive plan —
    the static plan legitimately prints the subtree twice."""
    df = QUERIES["rollup_hour_day"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 1, plan[:3000]


def test_scd2_windows_share_one_exchange(spark):
    """lag run-detection, the filter, and the lead interval close are all
    partitioned by user_id; Catalyst must reuse the exchange+sort."""
    plan = plan_of(spark, "scd2_user_state")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_linkage_joins_deduped_names_not_rows(spark):
    """The Levenshtein self-join must run over the grouped distinct-name
    relation (aggregate below the join on both sides), never raw part rows."""
    plan = plan_of(spark, "linkage_part_names")
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_dpp_fact_scan_is_pruned(spark):
    """The partitioned fact's scan must carry a dynamicpruningexpression
    in its PartitionFilters: the month list comes from the dim filter AT
    RUNTIME, so only the matching ship_month directories are read. A
    static PartitionFilters (or none) means DPP regressed and the 7-year
    fact is scanned for a 3-month query."""
    plan = plan_of(spark, "dpp_partitioned_revenue")
    assert "dynamicpruning" in plan.lower(), plan[:3000]
    # the dynamic filter sits in the PARTITION filters of the fact scan
    m = re.search(r"PartitionFilters: \[[^\]]*dynamicpruning", plan)
    assert m, plan[:3000]


def test_bloom_runtime_filter_reaches_fact_scan(spark):
    """InjectRuntimeFilter must plant a might_contain(bloom) predicate on
    the lineitem side BELOW the shuffle join: non-joining fact rows are
    discarded before the exchange, shrinking the 100 TB bottleneck by the
    dim filter's selectivity."""
    plan = plan_of(spark, "bloom_filtered_join_revenue")
    assert "might_contain" in plan, plan[:3000]
    # shuffle join posture (the regime where the bloom filter pays)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:3000]


def test_cbo_stats_flip_join_strategy(spark):
    """Cost-based optimization wiring: catalog COLUMN statistics must
    reach join planning. The build side is a FILTERED dim whose file
    size exceeds the broadcast threshold: without stats Spark cannot
    know the filter keeps only ~1/25 of rows, so it plans a shuffle
    join; after ANALYZE .. FOR COLUMNS the CBO's filter-selectivity
    estimate shrinks the side below the threshold and the same query
    broadcasts. This post-filter-cardinality call is exactly the
    decision a 1000-executor cluster gets wrong without stats — file
    size is a useless proxy once predicates apply."""
    import uuid

    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.sources.files import load_table

    db = f"cbo_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db}")
    try:
        load_table(spark, SF, "supplier").write.saveAsTable(f"{db}.supplier_t")
        load_table(spark, SF, "lineitem").write.saveAsTable(f"{db}.lineitem_t")

        def q(sess):
            dim = sess.table(f"{db}.supplier_t").filter(F.col("s_nationkey") == 3)
            return (
                sess.table(f"{db}.lineitem_t")
                .join(dim, F.col("l_suppkey") == F.col("s_suppkey"))
                .groupBy("s_name")
                .agg(F.sum("l_quantity").alias("qty"))
            )

        sess = spark.newSession()
        sess.conf.set("spark.sql.cbo.enabled", "true")
        # threshold below the dim's FILE size but above its post-filter size
        import glob
        import os

        loc = (
            spark.sql(f"DESCRIBE EXTENDED {db}.supplier_t")
            .filter("col_name = 'Location'")
            .first()[1]
        )
        dim_bytes = sum(
            os.path.getsize(f) for f in glob.glob(loc.replace("file:", "") + "/*.parquet")
        )
        sess.conf.set("spark.sql.autoBroadcastJoinThreshold", str(max(1024, dim_bytes // 2)))

        before = q(sess)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in before, before[:2000]

        sess.sql(
            f"ANALYZE TABLE {db}.supplier_t COMPUTE STATISTICS FOR COLUMNS s_nationkey"
        )
        after = q(sess)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in after, after[:2000]
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_aqe_splits_skewed_join_partition_at_runtime(spark):
    """AQE skew-join handling, proven on the FINAL adaptive plan: a join
    whose shuffle has one hot key (90% of rows) must get its skewed
    partition split at runtime (`skew=true` on the join node). This is
    the safety net under every non-salted join in the catalog — the
    salted-join operator is for known-hot keys, AQE catches the ones
    nobody predicted. Thresholds are scaled down to make a test-sized
    shuffle exhibit the cluster-sized trigger; production keeps
    defaults."""
    from pyspark.sql import functions as F

    sess = spark.newSession()
    sess.conf.set("spark.sql.adaptive.enabled", "true")
    sess.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    sess.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    sess.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    sess.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    sess.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.shuffle.partitions", "8")

    fact = sess.range(300_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = sess.range(1_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    # the filter references BOTH sides so it cannot push below the join
    # (which would de-skew the fact); no downstream distribution
    # requirement, so OptimizeSkewedJoin is free to split. collect() runs
    # THIS DataFrame's queryExecution, finalizing its adaptive plan.
    j = fact.join(dim, "k").filter(((F.col("payload") + F.col("v")) % 30000) == 0)
    rows = j.collect()
    assert len(rows) > 0
    final = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in final, final[:3000]


def test_binned_interval_join_avoids_nested_loop(spark):
    """The pure range-condition join (no equi key) MUST NOT plan as
    BroadcastNestedLoopJoin — binned_interval_join manufactures a day-bin
    equi key so Catalyst plans an ordinary equi join it can shuffle,
    broadcast, or skew-split. The naive theta form is quadratic at scale."""
    plan = plan_of(spark, "join_interval_binned")
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan
    assert any(
        j in plan
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    ), plan[:3000]


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The eval-set gram list is the provably small side: it must ship as
    a broadcast so corpus grams are filtered map-side without shuffling
    the corpus for the join."""
    plan = plan_of(spark, "text_decontaminate")
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """AQE partition coalescing: a 200-partition shuffle over KBs of data
    must be read back as a handful of coalesced partitions — the runtime
    right-sizing that makes one static shuffle.partitions setting safe
    across 6 orders of magnitude of data size."""
    from pyspark.sql import functions as F

    sess = spark.newSession()
    sess.conf.set("spark.sql.adaptive.enabled", "true")
    sess.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    sess.conf.set("spark.sql.shuffle.partitions", "200")

    df = sess.range(10_000).groupBy((F.col("id") % 7).alias("k")).count()
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in final and "coalesced" in final, final[:2000]
    assert df.rdd.getNumPartitions() < 200


def test_parquet_aggregate_pushdown_reads_footers_not_rows(spark):
    """Scan-elision lever: MIN/MAX/COUNT over parquet can be answered from
    row-group footer statistics alone (spark.sql.parquet.aggregatePushdown).
    At 100 TB the difference is reading ~KB of footers vs the full column.
    Asserts the plan carries PushedAggregation and the answers still match
    a row-reading aggregation exactly."""
    from pyspark.sql import functions as F

    sess = spark.newSession()
    sess.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    # aggregate pushdown exists only in the DSv2 scan path
    sess.conf.set("spark.sql.sources.useV1SourceList", "")
    df = sess.read.parquet(f"{SF}/lineitem.parquet")
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_quantity").alias("mn"),
        F.max("l_quantity").alias("mx"),
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation: [COUNT(*)" in plan or "PushedAggregation: [COUNT" in plan, plan
    assert "MIN(l_quantity)" in plan and "MAX(l_quantity)" in plan, plan
    got = agg.collect()[0]
    base = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("mn"),
            F.max("l_quantity").alias("mx"),
        )
        .collect()[0]
    )
    assert (got.n, got.mn, got.mx) == (base.n, base.mn, base.mx)


def test_scd2_pointlookup_is_equi_partitioned_not_nlj(spark):
    """The temporal lookup must plan as a KEY-partitioned join (SMJ/SHJ on
    user_id) with the interval containment as a residual condition — a
    BroadcastNestedLoopJoin here would be quadratic at scale."""
    plan = plan_of(spark, "join_scd2_pointlookup")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_join_strategy_hints_are_honored(spark):
    """API-surface completeness: per-join strategy hints must reach the
    planner — merge() forces SMJ, shuffle_hash() forces SHJ, broadcast()
    forces BHJ on the same query. These are the manual overrides for when
    stats mislead the optimizer at scale."""
    from pyspark.sql import functions as F

    fact = spark.read.parquet(f"{SF}/lineitem.parquet")
    dim = spark.read.parquet(f"{SF}/orders.parquet")

    def plan(hinted_dim):
        j = fact.join(hinted_dim, fact.l_orderkey == hinted_dim.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.sum("l_quantity").alias("qty"))
        return j._jdf.queryExecution().executedPlan().toString()

    assert "SortMergeJoin" in plan(dim.hint("merge"))
    assert "ShuffledHashJoin" in plan(dim.hint("shuffle_hash"))
    assert "BroadcastHashJoin" in plan(dim.hint("broadcast"))


def test_paragraph_dedup_keeper_is_aggregate_not_window(spark):
    """The global-first-occurrence keeper must be the skew-immune
    min(struct) HashAggregate (map-side partials collapse hot boilerplate
    paragraphs before the shuffle) — a row_number Window here would sort
    every copy of the hottest paragraph in one task."""
    plan = plan_of(spark, "text_paragraph_dedup")
    assert "Window" not in plan, plan[:3000]
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_lateral_topn_decorrelates_to_ranked_join(spark):
    """The correlated LATERAL must decorrelate: one Window rank + one
    equi join in the plan — no per-outer-row subquery re-execution, no
    nested loop."""
    plan = plan_of(spark, "join_lateral_topn")
    assert "Window" in plan, plan[:2000]
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan[:2000]


def test_persist_reuses_computation_via_inmemory_scan(spark):
    """Explicit cache: after persist(), downstream actions must read the
    InMemoryTableScan instead of recomputing the aggregate subtree — the
    lever for interactive reuse (iterative ops here use localCheckpoint,
    which additionally truncates lineage)."""
    from pyspark.sql import functions as F

    base = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("qty"))
        .persist()
    )
    try:
        base.count()  # materialize
        derived = base.filter(F.col("qty") > 0).select("l_returnflag")
        plan = derived._jdf.queryExecution().executedPlan().toString()
        # the cached node prints its ORIGIN subtree too, so asserting the
        # absence of FileScan would be wrong; the InMemoryTableScan node at
        # the read position is the reuse proof
        assert "InMemoryTableScan" in plan, plan
    finally:
        base.unpersist()


def test_geo_radius_join_broadcasts_ring_no_cartesian(spark):
    """The grid-blocked spatial join must plan as a broadcast hash join on
    the cell id — never a cartesian/nested-loop of probes x points (the
    naive distance-predicate plan)."""
    plan = plan_of(spark, "geo_grid_radius_join")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_single_corpus_shuffle(spark):
    """BM25's only corpus-sized exchange is the (term, doc) tf aggregate
    over query-matching tokens; df/avgdl/N ride broadcasts."""
    plan = plan_of(spark, "text_bm25_topk")
    assert "BroadcastExchange" in plan  # corpus stats + df
    # tf agg + per-term ranking window are the hash exchanges; the raw
    # token stream must not shuffle unfiltered
    assert plan.count("Exchange hashpartitioning") <= 3, plan.count(
        "Exchange hashpartitioning"
    )


def test_cms_sketch_aggregate_is_partial(spark):
    """The count-min build must show map-side partial aggregation — the
    shuffle carries at most depth*width partial rows per task."""
    plan = plan_of(spark, "approx_topk_cms")
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "posexplode" in plan.lower() or "Generate" in plan


def test_merkle_diff_digests_before_join(spark):
    """Anti-entropy diff: both sides fold to per-block digests (partial
    aggs) BEFORE any join; the join itself sees only O(blocks) rows, so
    it must not be preceded by a row-level exchange of the raw table."""
    plan = plan_of(spark, "merkle_block_diff")
    # two digest aggregates (one per replica), each with partial+final
    assert plan.count("HashAggregate") >= 4
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_cep_followed_by_single_exchange(spark):
    """The CEP window form shuffles events exactly once on user_id; both
    running-max columns share that window spec."""
    plan = plan_of(spark, "cep_followed_by")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_zvalue_expression_is_jvm_side_codegen(spark):
    """The Z-order layout key is pure Catalyst bit math: the projection
    must run inside WholeStageCodegen with NO Python evaluation node —
    a UDF here would serialize every row through Python just to pick a
    file layout."""
    from hw_kafka_flink_health_spark.operators.versioned import _zvalue_expr

    df = spark.range(1000).selectExpr("id AS x", "(id * 7) % 1000 AS y")
    z = df.withColumn("__z", _zvalue_expr(["x", "y"], {"x": (0, 999), "y": (0, 999)}))
    plan = z._jdf.queryExecution().executedPlan().toString()
    # "*(n)" marks a whole-stage-codegen'd operator in the plan string
    assert plan.lstrip().startswith("*("), plan[:200]
    assert "shiftleft" in plan  # the bit interleave is Catalyst expressions
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_simhash_md5_tier_single_shuffle(spark):
    """The oracle-able SimHash tier must keep the engine shape: explode +
    ONE hash-aggregate shuffle on doc (60 per-bit votes fold in the same
    partial+final agg), conv/md5 all JVM-side (no Python nodes)."""
    plan = plan_of(spark, "dedup_simhash")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnowing_gram_hash_evaluates_once_per_row(spark):
    """Regression for the O(len^2) CollapseProject inlining: the staged
    gram-hash array must appear EXACTLY ONCE in the optimized plan. When
    Catalyst collapses the staging projection into the windowed-min
    consumer, the hash expression lands inside the per-window lambda and
    every window position recomputes every gram hash (420M md5 calls /
    ~700 s at sf0.1, vs <5 s staged)."""
    plan = (
        QUERIES["doc_winnowing_fingerprint"](spark, SF)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("md5(") == 1, plan.count("md5(")


def test_geo_knn_partial_topk_prune_and_broadcast(spark):
    plan = plan_of(spark, "geo_knn_suppliers")
    # probes broadcast; candidate generation is never a shuffled cartesian
    assert "BroadcastNestedLoopJoin BuildRight" in plan
    assert "CartesianProduct" not in plan
    # top-k is pruned BEFORE each exchange (salt bucket + final): Spark 4's
    # WindowGroupLimit partial pass must appear on both window stages, so
    # no reducer ever materializes the full candidate set
    assert plan.count("WindowGroupLimit") >= 3, plan


def test_mannwhitney_distinct_value_reduction(spark):
    """r12 shape: distinct-value reduction (one hash shuffle) feeding a
    RANGE-partitioned prefix sum — o_totalprice is continuous, so the
    value grain grows ~O(rows) and the old single-partition cumulative
    window had to go (VERDICT r11 #1). The interesting exchanges now sit
    BEHIND global_prefix_sum's checkpoint, so inspect the captured
    pre-checkpoint executed plan."""
    from hw_kafka_flink_health_spark.plans import capture_checkpoints

    captured, executed = [], []
    with capture_checkpoints(captured, executed):
        df = QUERIES["stats_mannwhitney_u"](spark, SF)
    pre = "\n".join(executed)
    assert "Exchange SinglePartition" not in pre  # the r11 shape, gone
    # every exchange partitions on a key — value groupBy + prefix sum
    assert pre.count("Exchange hashpartitioning") >= 1
    # scan pruned to the two participating columns
    m = re.search(r"FileScan parquet \[([^\]]*)\]", pre)
    assert m and len(m.group(1).split(",")) <= 2, m and m.group(1)
    # final pass reads the checkpointed value table; the only remaining
    # work is the 1-row scalar aggregate
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in final
    assert "FileScan parquet" not in final


def test_range_interval_frame_is_range_not_rows(spark):
    plan = plan_of(spark, "window_range_interval_frame")
    # the frame must be a value-RANGE frame on epoch seconds — a ROWS
    # frame here would silently count events instead of time
    assert "specifiedwindowframe(RangeFrame, -3600" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # one user_id exchange


def test_drawdown_windows_ride_the_day_aggregate(spark):
    plan = plan_of(spark, "orders_drawdown_daily")
    # one hash shuffle to days; cumulative windows run over the day table
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") == 1


def test_recursive_hierarchy_joins_after_recursion(spark):
    plan = plan_of(spark, "recursive_part_hierarchy_rollup")
    # the rollup joins part prices ONCE, outside the loop, as a broadcast;
    # the iteration itself is narrow (no shuffle inside the recursion)
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # final groupBy only


def test_poisson_bootstrap_reuses_one_replicate_pass(spark):
    # Since the scan-reuse fix (030959e) the explode+partial-aggregate
    # pass is localCheckpointed: the replicate-counter table materializes
    # ONCE and both consumers (CI aggregate, b=-1 point estimate) read
    # the checkpoint. The final plan must therefore show checkpoint
    # scans and NO re-planned explode — a Generate here would mean each
    # consumer re-runs the B-replicate pass over the fact table.
    plan = plan_of(spark, "stats_poisson_bootstrap_ci")
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "Generate" not in plan and "FileScan" not in plan, plan
    # the 1-row point estimate broadcasts into the replicate stream; the
    # only exchange is the final tiny CI aggregate
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # the explode -> map-side partial invariant itself is pinned upstream:
    # the checkpointed subtree is built from explode(sequence(-1, B-1))
    # feeding one groupBy (queries/resampling.py), and the value oracle +
    # tests/test_resampling.py replay every replicate exactly


def test_funnel_time_to_convert_shares_user_exchange(spark):
    plan = plan_of(spark, "funnel_time_to_convert")
    # the window pass and the per-user collapse share ONE user_id
    # exchange; the cohort rollup shuffles user-grain rows only
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    scan = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert scan and len(scan.group(1).split(",")) == 3, scan and scan.group(1)


def test_month_spine_recursion_never_rescans_the_fact_table(spark):
    # the recursive term steps the spine carried in the loop; the orders
    # scan belongs to the anchor (min/max) and to the join AFTER the
    # loop — a scan inside the recursive term would run once per month
    plan = plan_of(spark, "recursive_month_spine_revenue").splitlines()
    at = next(k for k, line in enumerate(plan) if "UnionLoop " in line)
    col = plan[at].index("UnionLoop")
    subtree = []
    for line in plan[at + 1 :]:
        if line[: col + 3].strip(" :|"):
            break
        subtree.append(line)
    # the second child (`+-` right under UnionLoop) is the recursive term
    body_at = next(k for k, line in enumerate(subtree) if line[col + 3 : col + 5] == "+-")
    anchor, body = "\n".join(subtree[:body_at]), "\n".join(subtree[body_at:])
    assert "parquet" in anchor, anchor
    assert "UnionLoopRef" in body and "parquet" not in body, body


def test_fellegi_sunter_u_estimation_is_broadcast(spark):
    plan = plan_of(spark, "linkage_fellegi_sunter")
    # the 1-row u-probability aggregates join the pair stream as
    # broadcasts; the candidate join itself is blocked on nationkey
    assert plan.count("BroadcastNestedLoopJoin BuildRight, Cross") >= 2, plan
    # pairs are aggregated by 2-bit pattern before any collection: the
    # final agg groups tiny keys, no pair list ever leaves the executors
    assert "partial_count" in plan, plan


def test_rake_topk_is_take_ordered_not_global_window(spark):
    plan = plan_of(spark, "text_rake_keywords")
    # the final cut must be a distributed top-k (local top-40 per
    # partition merged), never a single-partition row_number pass over
    # every candidate phrase
    assert "TakeOrderedAndProject" in plan, plan


def test_quantile_normalize_interval_join_broadcasts_cums(spark):
    plan = plan_of(spark, "mlprep_quantile_normalize")
    # the idx->pooled-value interval lookup must be a broadcast NLJ
    # against the DISTINCT-VALUE cums table (and the 1-row total a
    # broadcast cross) — never a shuffled join or cartesian of doc rows
    assert plan.count("BroadcastNestedLoopJoin BuildRight") == 2, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_pmi_topk_is_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "text_pmi_collocations")
    # the final top-100 must merge local heaps, never globally sort the
    # collocation table; the two scalar totals ride in as broadcasts and
    # the unigram joins are hash joins on the word key
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin BuildRight, Cross") == 2, plan


def test_multiple_ols_is_one_map_side_aggregate(spark):
    plan = plan_of(spark, "regr_multiple_ols")
    # nine running sums in ONE partial+final hash aggregate: exactly one
    # exchange (on the group key), no window, no sort, no join anywhere
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_sum" in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_kmeans_step_broadcasts_seeds_no_point_shuffle(spark):
    plan = plan_of(spark, "embedding_kmeans_step")
    # the 8-row seed table broadcasts into the assignment (point side
    # never shuffles before argmin); only the argmin groupBy and the
    # (cid, dim) update aggregate exchange — and the seed pick itself is
    # a distributed TakeOrdered, not a global sort
    assert "BroadcastNestedLoopJoin BuildRight" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def _ring_edges(spark):
    """A 100-node directed ring (each edge 10x), checkpointed like the
    production edge table."""
    from pyspark.sql import functions as F

    return (
        spark.range(1000)
        .select(
            (F.col("id") % 100).cast("string").alias("src"),
            ((F.col("id") + 1) % 100).cast("string").alias("dst"),
        )
        .localCheckpoint()
    )


@pytest.mark.parametrize(
    "schema,row",
    [
        ("node string, dist int", ("1", 0)),
        ("seed string, node string, dist int", ("s", "1", 0)),
    ],
    ids=["single_source", "seeded"],
)
def test_bfs_round_plan_shape(spark, schema, row):
    """`_bfs_round` contract, for the single-source frontier of
    graph_bfs_distance and the (seed, node) frontier of
    graph_harmonic_centrality (round-6 verdict item 3): the frontier
    join stays hint-broadcast with the checkpointed edge table streamed
    in place (NO exchange on the edge side), while the reached-set
    anti-join, on every frontier key, carries NO broadcast hint — the
    reached set grows toward all reached nodes, and a forced broadcast
    there is an OOM at real graph cardinalities. AQE may still CHOOSE
    broadcast while it is small; what must not happen is the plan
    forcing it."""
    from hw_kafka_flink_health_spark.queries.graph import _bfs_round

    ed = _ring_edges(spark)
    start = spark.createDataFrame([row], schema).localCheckpoint()
    new = _bfs_round(ed, start, start, 0)
    qe = new._jdf.queryExecution()
    logical = qe.optimizedPlan().toString()
    # frontier join: hinted broadcast on the frontier (right) side only
    assert "rightHint=(strategy=broadcast)" in logical, logical
    # reached-set anti-join: NO hint of any kind
    anti = logical[logical.index("Join LeftAnti") :].splitlines()[0]
    assert "Hint" not in anti and "hint" not in anti, anti
    assert anti.count(" = ") == len(row) - 1, anti
    # edge table never shuffles: in the executed round plan, the streamed
    # (first-child, ':-'-prefixed) subtree of the inner broadcast join
    # reaches the edge RDD scan with no exchange in between
    new.count()
    executed = qe.executedPlan().toString()
    lines = executed.splitlines()
    (bhj_idx,) = [
        i for i, l in enumerate(lines) if "BroadcastHashJoin" in l and "Inner" in l
    ]
    indent = lines[bhj_idx].index("BroadcastHashJoin")
    streamed = []
    for line in lines[bhj_idx + 1 :]:
        if len(line) <= indent or line[indent] != ":":
            break
        streamed.append(line)
    assert any("Scan ExistingRDD" in l for l in streamed), executed
    assert not any("Exchange" in l for l in streamed), executed


def test_seeded_bfs_matches_single_source_per_seed(spark):
    """A two-seed `_frontier_bfs` is the two single-source searches run
    side by side: seed by seed, the same (node, dist) rows."""
    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.queries.graph import _frontier_bfs

    ed = _ring_edges(spark)
    seeds = ("1", "50")
    dist0 = spark.createDataFrame(
        [(s, s, 0) for s in seeds], "seed string, node string, dist int"
    )
    both = _frontier_bfs(ed, dist0, 4)
    for s in seeds:
        single = _frontier_bfs(
            ed, spark.createDataFrame([(s, 0)], "node string, dist int"), 4
        )
        got = both.filter(F.col("seed") == s).select("node", "dist").collect()
        assert sorted(got) == sorted(single.collect()), s
        assert len(got) == 5, got


def test_bucketed_join_has_no_exchange(spark):
    """join_bucketed_colocated's contract: both sides bucketed 8 ways on
    the join key ⇒ the join plans with ZERO Exchange on either side.
    Broadcast is disabled so the assertion cannot be satisfied by a
    BroadcastExchange instead of by the bucket layout; the only
    exchange allowed in the whole plan is the final 5-row aggregate's."""
    with conf_override(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        plan = plan_of(spark, "join_bucketed_colocated")
    assert "SortMergeJoin" in plan, plan
    join_part = plan[: plan.index("HashAggregate")] if "HashAggregate" in plan else plan
    # no exchange may feed the join: the scans' bucket layout satisfies
    # the distribution requirement at rest
    jidx = plan.index("SortMergeJoin")
    assert "Exchange" not in plan[jidx:], plan
    # the aggregate above the join gets exactly one exchange (partial →
    # final on the 5 segments)
    assert plan[:jidx].count("Exchange hashpartitioning") <= 1, plan
    assert "SelectedBucketsCount" in plan, plan


def test_cross_doc_dup_spans_single_postings_pass(spark):
    """Round-8 reshape: shared-span coverage explodes the shingles ONCE
    and never joins the postings back — one gram-keyed exchange plus the
    per-doc join, no sort-merge join, no second Generate."""
    plan = plan_of(spark, "text_cross_doc_dup_spans")
    assert plan.count("Generate") == 1, plan
    assert plan.count("SortMergeJoin") == 0, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_levenshtein_dedup_distinct_before_pairs(spark):
    """Edit-distance scoring must run on the distinct-name VOCABULARY
    with an equi-join on the blocking key — a nested-loop pair generator
    would be quadratic in rows, not names."""
    plan = plan_of(spark, "dedup_levenshtein_blocked")
    assert "NestedLoop" not in plan, plan
    assert "levenshtein" in plan
    # the pushed scan filter proves the name cleanup reaches parquet
    assert "IsNotNull(p_name)" in plan


def test_heaps_growth_postings_never_sorted(spark):
    """The vocabulary-growth curve sorts only the DOC table (row_number
    window); the postings side is Generate -> hash aggregate. After the
    per-doc table is checkpointed there is exactly one Generate and the
    plan carries no sort-merge join of postings."""
    plan = plan_of(spark, "text_heaps_vocab_growth")
    assert plan.count("Generate") == 1, plan


def test_mmr_pool_filter_pushdown_and_single_group(spark):
    """MMR reads only the bounded pool (LessThan pushed to the scan) and
    runs the greedy loop as ONE FlatMapGroupsInPandas — no per-round
    plan chain."""
    plan = plan_of(spark, "embedding_mmr_select")
    assert "LessThan(vec_id,200)" in plan.replace(" ", ""), plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan


def test_ips_eval_aggregates_before_policy(spark):
    """Off-policy IPS never weights rows: the only data-sized stage is
    the (segment, action) aggregate; the policy argmax and joins run on
    that summary (broadcast), and the scan filters push down."""
    plan = plan_of(spark, "policy_ips_offline_eval")
    assert "IsNotNull(event_type)" in plan
    assert "NestedLoop" not in plan, plan


def test_hits_broadcasts_authority_and_takeordered_topk(spark):
    """HITS: the supplier-keyed authority vector broadcasts back onto the
    edge list (never a fact-side shuffle for the small side), and the
    global top-15 plans as TakeOrderedAndProject, not a total sort."""
    plan = plan_of(spark, "graph_hits_bipartite")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kruskal_ranks_from_value_groups_not_row_sort(spark):
    """Kruskal-Wallis must rank DISTINCT VALUES, never globally sort the
    row stream — and since r12 the value-table cumulative itself rides
    global_prefix_sum (o_totalprice is continuous, so the distinct grain
    is ~O(rows): a single-partition ordered pass over it was the r11
    sweep's blind spot). The range shuffle in the pre-checkpoint subtree
    partitions the VALUE table, not raw rows: it sits above the value
    groupBy's hash exchange."""
    from hw_kafka_flink_health_spark.plans import capture_checkpoints

    captured, executed = [], []
    with capture_checkpoints(captured, executed):
        df = QUERIES["stats_kruskal_wallis"](spark, SF)
    pre = "\n".join(executed)
    assert "Exchange SinglePartition" not in pre  # no global ordered pass
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the rank pass sits behind the prefix sum's localCheckpoint, so the
    # final plan reads the materialized RDD; the final statistic
    # assembly is broadcast 1-row joins, never a cartesian
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan


def test_geohash_is_pure_codegen_no_python(spark):
    """The geohash encode is shift/and/or Catalyst expressions — any
    Python evaluation node in this plan is a regression."""
    plan = plan_of(spark, "geo_geohash_rollup")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker
    assert "HashAggregate" in plan  # rollup is a plain codegen'd agg


def test_mrr_shares_one_user_exchange_for_both_windows(spark):
    """MRR/AP: the ranking row_number and the running-hits sum use the
    same (user_id, pred desc, item_id) window spec, so Catalyst plans ONE
    hashpartitioning exchange on user_id for window + final aggregate."""
    plan = plan_of(spark, "eval_mrr_map")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bh_fdr_replicates_partial_aggregate_before_shuffle(spark):
    """The exploded replicate stream must partial-aggregate map-side
    (HashAggregate below the exchange keyed (event_type, b)) so the
    shuffle carries B x |types| cells, not B x |rows|."""
    plan = plan_of(spark, "experiment_bh_fdr")
    m = re.findall(r"HashAggregate", plan)
    assert len(m) >= 4, plan  # partial+final for replicate and p-value aggs
    assert "CartesianProduct" not in plan


def test_fx_asof_fact_side_never_sorts(spark):
    """fx_asof_revenue's scale contract: the rate dimension is filled
    with ONE window (over the tiny spine) and the fact side equi-joins it
    broadcast — no Sort/Window over the orders-sized subtree and no
    nested-loop join against facts (the only BNLJ is the 7x2405 spine
    cross product)."""
    plan = plan_of(spark, "fx_asof_revenue")
    assert plan.count("Window") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_lpa_round_shape_no_cartesian(spark):
    """Label propagation: every round is equi-join + two hash aggregates;
    nothing degenerates to a nested loop and the census top-50 is a
    TakeOrderedAndProject, not a global sort."""
    plan = plan_of(spark, "graph_label_propagation")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_jaccard_neighbors_semi_cap_before_pairs(spark):
    """The hub cap must apply BEFORE the pair self-join (left-semi
    against the capped part set), and the top-50 is TakeOrdered."""
    plan = plan_of(spark, "graph_jaccard_neighbors")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_clipped_ngram_counts_partial_aggregate(spark):
    """BLEU clip: gram counts partial-aggregate below their exchanges
    (the shuffle carries (pair, gram) cells, not raw gram occurrences)
    and the pair staging is reused via localCheckpoint (scans appear
    once)."""
    plan = plan_of(spark, "eval_clipped_ngram_precision")
    assert "CartesianProduct" not in plan, plan
    # four count aggregates (cand/ref x uni/bi), each partial+final
    assert plan.count("HashAggregate") >= 8, plan


def test_grubbs_stats_broadcast_back(spark):
    """Grubbs joins the per-type stats back to events as a BROADCAST
    (stats side is |event_types| rows) — the fact side never shuffles
    for the join."""
    plan = plan_of(spark, "stats_grubbs_test")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_shared_edge_cache_hits_and_keys_by_input(spark):
    """The graph edge cache must return the SAME checkpointed frame for
    repeated (session, sf_dir, files) keys — and never serve one sf_dir's
    edges for another."""
    from hw_kafka_flink_health_spark.queries.graph import _cs_edges_directed

    a1 = _cs_edges_directed(spark, SF)
    a2 = _cs_edges_directed(spark, SF)
    assert a1 is a2, "same inputs must hit the cache"
    b = _cs_edges_directed(spark, "/root/testdata/sf0.01")
    assert b is not a1, "different sf_dir must miss"
    assert a1.count() != b.count()


def test_no_single_partition_window_over_fact_cardinality(spark):
    """Round-10 gate: the five queries that used to plan a global
    `Window.orderBy(...)` over fact/user/doc-cardinality input (an
    Exchange SinglePartition through ONE task) now rank via
    distributed_ntile/distributed_row_number — the visible plan must
    carry NO SinglePartition exchange at all (the ranking pass is a
    checkpointed range shuffle + _pid-local window, shape pinned by
    test_distributed_rank_pass1_never_single_partition)."""
    for name in (
        "histogram_equidepth_totalprice",
        "rfm_user_profile",
        "rfm_segment_migration",
        "mlprep_curriculum_phases",
        # r11: the md5-ring negative sampler ranks via
        # distributed_row_number and resolves ring successors with two
        # equi-joins on the dense rank — no global lead window left.
        "mlprep_negative_pairs",
    ):
        plan = plan_of(spark, name)
        assert "Exchange SinglePartition" not in plan, name


def test_heaps_vocab_growth_only_cumulates_ten_deciles(spark):
    """text_heaps_vocab_growth (r11 rewire, VERDICT r10 #1): the
    doc-cardinality rank moved onto distributed_row_number (checkpointed
    range shuffle + _pid-local window), so the only SinglePartition
    exchange AND the only Window left in the visible plan feed the
    10-row decile cumulation — never the documents table. The
    pre-checkpoint subtree is swept by tests/test_window_sweep.py, which
    a localCheckpoint cannot hide from."""
    plan = plan_of(spark, "text_heaps_vocab_growth")
    assert plan.count("Exchange SinglePartition") == 1, plan[:3000]
    assert plan.count("Window") == 1, plan[:3000]


def test_decile_rollups_only_cumulate_ten_rows_single_partition(spark):
    """eval_qini_uplift / eval_decile_lift rank on the distributed
    operator; the ONLY SinglePartition exchange left feeds the 10-row
    decile cumulation (bounded by construction — floor(rank*10/N) has at
    most 10 distinct values), never the user/doc table. decile_lift has
    one more: the single-ROW `tot` final aggregate, whose input is the
    10-row decile table — also bounded by construction."""
    for name, n_sp in (("eval_qini_uplift", 1), ("eval_decile_lift", 2)):
        plan = plan_of(spark, name)
        assert plan.count("Exchange SinglePartition") == n_sp, name
        # the ranking window is gone from the visible plan entirely: the
        # only Window left is the post-aggregate decile cumulation
        assert plan.count("Window") == 1, name


def test_shared_edge_cache_is_lru_not_fifo(spark):
    """A cache hit must refresh recency (move-to-end): after touching A,
    inserting a third key evicts B (the least-recently-USED), not A (the
    least-recently-INSERTED) — cycling sf_dirs would otherwise rebuild
    the checkpointed edge list on every call (ADVICE r9)."""
    from hw_kafka_flink_health_spark.queries import graph as g

    a = g._cs_edges_directed(spark, SF)                      # insert A
    g._cs_edges_directed(spark, "/root/testdata/sf0.01")     # insert B
    assert g._cs_edges_directed(spark, SF) is a              # touch A
    g._cs_edges_directed(spark, "/root/testdata/sf0.1")      # insert C -> evict B
    assert g._cs_edges_directed(spark, SF) is a, "A must survive (was MRU)"


def test_bh_fdr_broadcasts_obs_stats_into_replicates(spark):
    """experiment_bh_fdr: the observed-stats table (|event_types| rows,
    checkpointed once) must BROADCAST into both the replicate compare and
    the p-value join — a shuffle of the B-times-exploded replicate stream
    against a 5-row table would be the wrong side moving. The replicate
    explode itself must feed a partially-aggregated hash agg."""
    plan = plan_of(spark, "experiment_bh_fdr")
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan


def test_lpa_round_is_joins_and_aggs_no_global_sort(spark):
    """graph_label_propagation: every round is one equi-join against the
    checkpointed edge list + two hash aggregates (count, struct-min
    argmax) — partitioned on the node key end to end. A shuffled join
    (SMJ/SHJ) is the CORRECT big-big shape (neither graph side can
    broadcast at scale); what must never appear is a single-partition
    exchange, a window (the mode-pick is an aggregate, not a ranked
    window), or a cartesian."""
    plan = plan_of(spark, "graph_label_propagation")
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, plan[:3000]
    assert "HashAggregate" in plan


def test_round10_pack_plan_shapes(spark):
    """Round-10 pack posture: none of the new heavyweights may plan a
    single-partition exchange, a cartesian, or an unpartitioned window
    over data-sized input; PPR's global top-20 must be
    TakeOrderedAndProject (partial per-partition heaps), never a full
    sort."""
    for name in (
        "embedding_semdedup_det",
        "multimodal_image_phash",
        "graph_personalized_pagerank",
        "mlprep_global_doc_ids",
        "retrieval_ann_recall_at_k",
    ):
        plan = plan_of(spark, name)
        assert "Exchange SinglePartition" not in plan, name
        assert "CartesianProduct" not in plan, name
    ppr = plan_of(spark, "graph_personalized_pagerank")
    assert "TakeOrderedAndProject" in ppr
    # global doc ids: the ranking pass lives behind the checkpoint — the
    # visible plan must carry NO window at all (the naive formulation
    # would show row_number + count over SinglePartition)
    assert "Window" not in plan_of(spark, "mlprep_global_doc_ids")


def test_capture_checkpoints_is_per_thread(spark):
    """Two threads each hold their own capture while both are open: each
    list receives only the plan its own thread checkpointed. A nested
    capture on one thread fills both of that thread's lists."""
    import threading

    from hw_kafka_flink_health_spark.plans import capture_checkpoints

    barrier = threading.Barrier(2, timeout=60)
    got: dict[str, list] = {}
    errors: list = []

    def build(tag: str) -> None:
        try:
            captured: list = []
            inner: list = []
            with capture_checkpoints(captured):
                barrier.wait()  # both captures are open before either checkpoints
                with capture_checkpoints(inner):
                    spark.range(3).selectExpr(f"id AS {tag}").localCheckpoint()
                barrier.wait()  # neither closes before both have checkpointed
            got[tag] = captured
            got[tag + "_inner"] = inner
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=build, args=(t,)) for t in ("only_a", "only_b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads), "capture threads hung"
    assert not errors, errors
    for tag, other in (("only_a", "only_b"), ("only_b", "only_a")):
        for key in (tag, tag + "_inner"):
            assert len(got[key]) == 1, (key, got[key])
            assert tag in got[key][0] and other not in got[key][0], (key, got[key])
