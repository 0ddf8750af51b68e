"""Heavy-hitter guarantees: exact membership/counts vs one-shot groupBy
truth, no false negatives under adversarial key spreading, and the
candidate bound's partition parameter never changes the answer."""

from __future__ import annotations

from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.frequency import heavy_hitters


def _truth(df, threshold):
    return {
        (r.key, r.cnt)
        for r in (
            df.groupBy(F.col("v").alias("key"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .filter(F.col("cnt") >= threshold)
            .collect()
        )
    }


def test_heavy_hitters_exact_vs_groupby(spark):
    """Planted skew + singleton tail: exactly the >=threshold keys, exact
    counts, straddling keys on both sides of the threshold."""
    rows = (
        [("hot",)] * 500
        + [("warm",)] * 50
        + [("edge",)] * 40  # exactly threshold
        + [("cold",)] * 39  # one below
        + [(f"single_{i}",) for i in range(2000)]
    )
    df = spark.createDataFrame(rows, ["v"]).repartition(16)
    got = {
        (r.key, r.cnt)
        for r in heavy_hitters(df, "v", threshold=40).collect()
    }
    assert got == _truth(df, 40)
    assert ("edge", 40) in got and not any(k == "cold" for k, _ in got)


def test_heavy_hitters_no_false_negative_when_spread_thin(spark):
    """Adversarial placement: a heavy key diluted evenly across many
    partitions must still surface (the threshold/P bound guarantees at
    least one partition sees >= threshold//P)."""
    # 64 occurrences of 'thin' spread over 32 partitions = 2 per partition;
    # threshold 64 with P=32 gives local bound 2 — exactly at the bound
    thin = spark.range(64).select(F.lit("thin").alias("v")).repartition(32)
    noise = spark.range(5000).select(F.concat(F.lit("n"), F.col("id")).alias("v"))
    df = thin.unionByName(noise)
    got = heavy_hitters(df, "v", threshold=64, partitions=32).collect()
    assert [(r.key, r.cnt) for r in got] == [("thin", 64)]


def test_heavy_hitters_partitions_param_only_changes_cost(spark):
    """Raising the bound divisor admits more candidates but never changes
    the answer; lowering it below the actual partition count is ignored
    (it would break the no-false-negative guarantee)."""
    rows = [("a",)] * 100 + [("b",)] * 10 + [(f"s{i}",) for i in range(500)]
    df = spark.createDataFrame(rows, ["v"]).repartition(8)
    for p in (1, 4, 64, 10_000):
        got = {(r.key, r.cnt) for r in heavy_hitters(df, "v", threshold=10, partitions=p).collect()}
        assert got == _truth(df, 10), p


def test_approx_percentile_within_rank_error_bound(spark):
    """Sketch honesty check (companion to the HLL error-bound test):
    percentile_approx with accuracy A guarantees rank error <= n/A. Verify
    the approximate p50/p90/p99 of events.value each land within the value
    range spanned by [rank - n/A, rank + n/A] of the exact sorted data."""
    from tests.conftest import SF_DIR
    from hw_kafka_flink_health_spark.sources.files import load_table

    events = load_table(spark, SF_DIR, "events")
    acc = 100
    approx = events.select(
        F.percentile_approx("value", [0.5, 0.9, 0.99], acc).alias("a")
    ).collect()[0]["a"]
    exact = sorted(r["value"] for r in events.select("value").collect())
    n = len(exact)
    for p, got in zip([0.5, 0.9, 0.99], approx):
        target = int(p * n)
        lo = exact[max(0, target - (n // acc) - 1)]
        hi = exact[min(n - 1, target + (n // acc) + 1)]
        assert lo <= got <= hi, f"p{p}: {got} outside [{lo}, {hi}]"


def test_fpgrowth_pairs_agree_with_exact_pair_pass(spark):
    """The size-2 itemsets of basket_frequent_itemsets must carry exactly
    the frequencies an independently-constructed exact pair-count computes
    (collect_list+explode baskets vs the query's co-partitioned incidence
    self-join — different plan, same counts, same support floor). Pinned
    the pyspark.ml FPGrowth implementation through r12; now pins the
    native bounded-k enumeration that replaced it (r13)."""
    from tests.conftest import SF_DIR
    from hw_kafka_flink_health_spark.queries import QUERIES

    fi = QUERIES["basket_frequent_itemsets"](spark, SF_DIR).collect()
    # items is a comma-joined sorted string (driver-canonicalizable scalar)
    got_pairs = {
        tuple(r["items"].split(",")): r["freq"]
        for r in fi
        if r["items"].count(",") == 1
    }
    from hw_kafka_flink_health_spark.sources.files import load_table

    li = load_table(spark, SF_DIR, "lineitem").join(
        load_table(spark, SF_DIR, "part").select("p_partkey", "p_brand"),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_distinct(F.collect_list("p_brand")).alias("items")
    )
    n_baskets = baskets.count()
    exploded = baskets.select(
        "l_orderkey", F.explode("items").alias("b")
    )
    pairs = (
        exploded.alias("x")
        .join(exploded.alias("y"), on="l_orderkey")
        .filter(F.col("x.b") < F.col("y.b"))
        .groupBy("x.b", "y.b")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 0.02 * n_baskets)
        .collect()
    )
    expect_pairs = {(r["b"], r["y.b"] if "y.b" in r else r[1]): r["freq"] for r in pairs}
    expect_pairs = {tuple(sorted(k)): v for k, v in expect_pairs.items()}
    got_pairs = {tuple(sorted(k)): v for k, v in got_pairs.items()}
    assert got_pairs == expect_pairs
    assert len(got_pairs) > 0


def test_cms_estimate_one_sided_and_merge_linear(spark):
    """CMS guarantees on planted data: (a) estimate >= true count for every
    probed key (one-sided error, always); (b) min-over-depth excess stays
    far under the worst single-row bound; (c) the sketch is linear —
    merging two half-corpus sketches equals the whole-corpus sketch
    counter-for-counter."""
    from hw_kafka_flink_health_spark.operators.frequency import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    rows = (
        [("hot",)] * 400
        + [("warm",)] * 60
        + [(f"noise_{i}",) for i in range(3000)]
    )
    df = spark.createDataFrame(rows, ["v"]).repartition(8)
    sketch = cms_build(df, "v")

    probes = spark.createDataFrame(
        [("hot",), ("warm",), ("noise_7",), ("never_seen",)], ["key"]
    )
    est = {
        r.key: r.est
        for r in cms_estimate(sketch, probes).collect()
    }
    true = {"hot": 400, "warm": 60, "noise_7": 1, "never_seen": 0}
    for k, t in true.items():
        assert est[k] >= t, f"{k}: CMS must never underestimate"
        # N=3460, width=1024 -> E[excess per row] ~3.4; min over 4
        # independent rows on this fixed data lands well under 40
        assert est[k] - t <= 40, f"{k}: excess {est[k] - t} implausibly large"

    half_a = spark.createDataFrame(rows[: len(rows) // 2], ["v"])
    half_b = spark.createDataFrame(rows[len(rows) // 2 :], ["v"])
    merged = cms_merge(
        cms_build(half_a, "v"),
        cms_build(half_b, "v"),
    )
    whole = cms_build(df, "v")
    a = {(r.seed, r.bucket): r.cnt for r in merged.collect()}
    b = {(r.seed, r.bucket): r.cnt for r in whole.collect()}
    assert a == b


def test_bloom_no_false_negatives_fpr_and_merge(spark):
    """Bloom contracts on planted keys: every inserted key passes; the
    FPR over 2000 never-inserted probes stays near the analytic rate for
    (m=2^16, k=5, n=500); merging two half-filters equals building from
    the whole input."""
    from hw_kafka_flink_health_spark.operators.frequency import (
        bloom_build,
        bloom_merge,
        bloom_probe,
    )

    members = [(f"key_{i}",) for i in range(500)]
    df = spark.createDataFrame(members, ["v"])
    bloom = bloom_build(df, "v")

    probes = spark.createDataFrame(
        members + [(f"absent_{i}",) for i in range(2000)], ["key"]
    )
    got = {r.key: r.maybe_present for r in bloom_probe(bloom, probes).collect()}
    assert all(got[f"key_{i}"] for i in range(500)), "false negative!"
    fp = sum(1 for i in range(2000) if got[f"absent_{i}"])
    # analytic FPR ~ (1 - e^{-kn/m})^k ~ 8e-8 for n=500; allow a loose
    # ceiling that still catches a broken hash family (deterministic data)
    assert fp <= 5, f"implausible false-positive count {fp}"

    merged = bloom_merge(
        bloom_build(spark.createDataFrame(members[:250], ["v"]), "v"),
        bloom_build(spark.createDataFrame(members[250:], ["v"]), "v"),
    )
    a = {r.pos for r in merged.collect()}
    b = {r.pos for r in bloom.collect()}
    assert a == b

    # NULL probe keys get NO verdict row (mirrors bloom_build's NULL
    # filter) — previously the NULL row survived probing but silently
    # vanished in downstream equi-joins, diverging from SQL oracles
    with_null = spark.createDataFrame(
        [("key_1",), (None,), ("absent_x",)], "key string"
    )
    out = bloom_probe(bloom, with_null).collect()
    assert sorted(r.key for r in out) == ["absent_x", "key_1"]


def test_ams_f2_estimate_within_bound_and_linear(spark):
    """AMS F2 on planted frequencies: the median-of-estimators estimate
    lands within 30% of exact F2 (deterministic hashes, fixed data), and
    the sketch is linear (half+half counters == whole)."""
    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.operators.frequency import (
        ams_f2_estimate,
        ams_f2_sketch,
    )

    rows = (
        [("a",)] * 100 + [("b",)] * 50 + [("c",)] * 10
        + [(f"n{i}",) for i in range(200)]
    )
    exact = 100**2 + 50**2 + 10**2 + 200
    df = spark.createDataFrame(rows, ["v"]).repartition(8)
    est = ams_f2_estimate(ams_f2_sketch(df, "v")).collect()[0]
    assert est.n_estimators == 5
    assert abs(est.f2_estimate - exact) <= 0.3 * exact, (est.f2_estimate, exact)

    half_a = spark.createDataFrame(rows[: len(rows) // 2], ["v"])
    half_b = spark.createDataFrame(rows[len(rows) // 2 :], ["v"])
    sa = ams_f2_sketch(half_a, "v")
    sb = ams_f2_sketch(half_b, "v")
    merged = (
        sa.unionByName(sb)
        .groupBy("est", "counter")
        .agg(F.sum("val").cast("long").alias("val"))
    )
    a = {(r.est, r.counter): r.val for r in merged.collect()}
    b = {(r.est, r.counter): r.val for r in ams_f2_sketch(df, "v").collect()}
    assert a == b


def test_kaplan_meier_hand_computed(spark, tmp_path):
    """KM estimator on a 5-customer micro-table with hand-computed
    survival: 2 events at t=10 (S=0.6), a censor at 15 (no factor), an
    event+censor at 20 (S=0.6*(1-1/2)=0.3). Guards the at-risk and
    product bookkeeping itself — the DuckDB oracle only proves both
    engines agree, not that the formula is KM."""
    import datetime as dt

    from hw_kafka_flink_health_spark.queries.stats import (
        stats_kaplan_meier_reorder,
    )

    d0 = dt.datetime(2024, 1, 1)

    def day(n):
        return d0 + dt.timedelta(days=n)

    rows = [
        (1, 101, day(0)), (2, 101, day(10)),   # event t=10
        (3, 102, day(0)), (4, 102, day(10)),   # event t=10
        (5, 103, day(0)),                      # censored at horizon: t=20
        (6, 104, day(0)), (7, 104, day(20)),   # event t=20 (sets horizon)
        (8, 105, day(5)),                      # censored: t=15
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    got = {
        r["time_days"]: r
        for r in stats_kaplan_meier_reorder(spark, str(tmp_path)).collect()
    }
    assert set(got) == {10, 15, 20}
    assert (got[10]["n_events"], got[10]["n_censored"], got[10]["n_risk"]) == (2, 0, 5)
    assert got[10]["survival"] == 0.6
    assert (got[15]["n_events"], got[15]["n_censored"], got[15]["n_risk"]) == (0, 1, 3)
    assert got[15]["survival"] == 0.6
    assert (got[20]["n_events"], got[20]["n_censored"], got[20]["n_risk"]) == (1, 1, 2)
    assert got[20]["survival"] == 0.3
