"""Frequency analysis at scale: exact heavy hitters via two-phase pruning.

Extension surface (SURVEY.md §2.C): the reference counts alert types in a
toy batch job (`/root/reference/src/spark_batch_analysis.py:14-28`, a plain
groupBy); the 100 TB version of "which keys are frequent" cannot afford to
shuffle ONE ROW PER DISTINCT KEY when the key space is huge (tokens,
URLs, user agents: billions of distinct, almost all singletons) and only
heavy keys are wanted.

Two-phase exact algorithm (the distributed Misra-Gries bound):

  phase 1 (candidates): count per (shuffle-partition, key) — map-side
      combined, so the shuffle carries partial counts, not rows — and
      keep keys whose LOCAL count >= threshold / P in any partition.
      Guarantee: a key with GLOBAL count >= threshold must average
      >= threshold/P over P partitions, hence exceed it in at least one
      — no false negatives, ever. Singletons (the overwhelming mass)
      die here without a global per-key aggregate surviving the shuffle.
  phase 2 (exact recount): semi-join the input on the (hash-bucketed,
      typically tiny) candidate set, groupBy ONLY candidate keys, keep
      count >= threshold. Exact counts, exact membership.

Cost: two scans; the first shuffles O(P x candidates+noise) partial rows,
the second shuffles only rows whose key is a candidate. A single-phase
groupBy shuffles O(distinct keys) rows — at token scale, thousands of
times more. Oracle-checked (plain HAVING count >= t) in the registry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _seeded_hash(hash: str):
    """Seeded hash family for the sketch operators, two tiers:

    * "xxhash64" (default): JVM codegen, fastest — but engine-specific,
      so sketches built with it are rows-only to an external oracle.
    * "md5": first 15 md5 hex digits of `key|seed` parsed base-16 — 60
      bits, non-negative, reproducible bit-for-bit in any engine
      (DuckDB: `('0x' || substr(md5(key || '|' || seed), 1, 15))::BIGINT`).
      The same tier that value-oracled SimHash/winnowing/MinHash; it
      makes CMS/AMS/Bloom sketches hash-comparable across engines.

    Returns f(col, seed) -> non-negative long Column.
    """
    if hash == "xxhash64":
        return lambda c, seed: F.abs(F.xxhash64(c, F.lit(seed)))
    if hash == "md5":
        return lambda c, seed: F.conv(
            F.substring(F.md5(F.concat_ws("|", c, F.lit(str(seed)))), 1, 15),
            16,
            10,
        ).cast("long")
    raise ValueError(f"unknown hash {hash!r} (xxhash64|md5)")


def heavy_hitters(
    df: DataFrame,
    key: str | Column,
    *,
    threshold: int,
    partitions: int | None = None,
) -> DataFrame:
    """Exactly the keys occurring >= `threshold` times, with exact counts.

    The P in the threshold/P candidate bound is the input's ACTUAL
    partition count — the bound is only sound when P >= the number of
    partitions the key can be spread across (a key with global count t
    over P partitions need only show t/P locally). `partitions` can
    RAISE the divisor (looser bound, more candidates, e.g. to keep the
    bound valid across a planned repartition); values below the actual
    count are ignored rather than allowed to break the guarantee.

    Returns (key, cnt) with cnt exact, descending by cnt then key.
    """
    kcol = F.col(key) if isinstance(key, str) else key
    keyed = df.select(kcol.alias("key")).filter(F.col("key").isNotNull())
    p = max(keyed.rdd.getNumPartitions(), partitions or 0)
    local_bound = max(1, threshold // p)
    # phase 1: per-(partition, key) counts; spark_partition_id() pins the
    # pre-shuffle locality so the groupBy's map-side combine produces at
    # most one partial row per (partition, key)
    candidates = (
        keyed.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid", "key")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= local_bound)
        .select("key")
        .distinct()
    )
    # phase 2: exact recount over candidate keys only
    return (
        keyed.join(F.broadcast(candidates), "key", "left_semi")
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= threshold)
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
    )


# Sketch shapes. Build and probe hash with the same family, so each pair
# shares one constant.
CMS_DEPTH, CMS_WIDTH = 4, 1024
BLOOM_BITS, BLOOM_HASHES = 1 << 16, 5
AMS_ESTIMATORS, AMS_COUNTERS = 5, 64


def cms_build(
    df: DataFrame,
    key: str | Column,
    *,
    hash: str = "xxhash64",
    weight: str | Column | None = None,
) -> DataFrame:
    """Count-min sketch over a key column: a (CMS_DEPTH × CMS_WIDTH) counter table
    as a tiny DataFrame (seed, bucket, cnt) — the mergeable approximate
    sibling of `heavy_hitters`.

    Distributed shape: each input row fans out to CMS_DEPTH (seed, bucket)
    pairs map-side (posexplode of a d-element bucket array computed with
    xxhash64 — JVM codegen, no Python), then ONE map-side-combined groupBy
    whose shuffle carries at most CMS_DEPTH×CMS_WIDTH partial rows per task —
    O(d·w), never O(distinct keys). That is the whole point at token
    scale: the shuffle is constant-size regardless of key cardinality,
    and two sketches over disjoint data merge by counter addition
    (`cms_merge` — exactly associative), so per-hour sketches roll up to
    per-day without touching rows again.

    `weight`: optional per-row count. CMS is a LINEAR sketch, so building
    from pre-aggregated (key, weight) pairs with `sum(weight)` is
    bit-identical to building from the raw occurrences — and when the
    caller already has (or also needs) per-key counts, this prices the
    d hash computations per DISTINCT key instead of per occurrence. At
    token scale that is the difference between hashing ~10^11 occurrences
    and hashing ~10^7 vocabulary entries.

    Guarantee (standard CMS): estimate >= true count always; estimate <=
    true + eps*N with probability 1-delta for eps=e/CMS_WIDTH,
    delta=e^-CMS_DEPTH.
    """
    kcol = F.col(key) if isinstance(key, str) else key
    hf = _seeded_hash(hash)
    if weight is None:
        wcol = F.lit(1).cast("long")
    else:
        wcol = (F.col(weight) if isinstance(weight, str) else weight).cast("long")
    keyed = df.select(
        kcol.cast("string").alias("key"), wcol.alias("__w")
    ).filter(F.col("key").isNotNull())
    buckets = F.array(
        *[(hf(F.col("key"), d) % CMS_WIDTH).cast("int") for d in range(CMS_DEPTH)]
    )
    return (
        keyed.select(F.posexplode(buckets).alias("seed", "bucket"), "__w")
        .groupBy("seed", "bucket")
        .agg(F.sum("__w").cast("long").alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two same-shaped sketches by counter addition (exact: CMS is a
    linear sketch, so merge(build(A), build(B)) == build(A ∪ B) row-for-row
    — pinned by tests/test_stats.py)."""
    return (
        a.unionByName(b)
        .groupBy("seed", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    *,
    hash: str = "xxhash64",
) -> DataFrame:
    """Point-query the sketch for each row of `keys`: estimate = min over
    the depth counters the key hashes into. `hash` MUST match the build
    call — it defines the hash family. The sketch is d×w rows —
    broadcast; the (typically small) candidate set joins it without
    shuffling the corpus. Keys never inserted estimate as the min of
    whatever collided into their buckets (>= 0, standard CMS behavior)."""
    kcol = F.col("key").cast("string")
    hf = _seeded_hash(hash)
    buckets = F.array(
        *[(hf(kcol, d) % CMS_WIDTH).cast("int") for d in range(CMS_DEPTH)]
    )
    probes = keys.select(
        F.col("key").alias("key"), F.posexplode(buckets).alias("seed", "bucket")
    )
    return (
        probes.join(F.broadcast(sketch), ["seed", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est"))
    )


def bloom_build(
    df: DataFrame,
    key: str | Column,
    *,
    hash: str = "xxhash64",
) -> DataFrame:
    """Bloom filter as a DataFrame: the set of SET bit positions (one int
    column, distinct). Completes the sketch-algebra family next to the
    count-min sketch and the log-histogram quantile table — every member
    is a small relational value that merges with plain relational ops
    (Bloom merge = UNION DISTINCT of positions; containment = all k
    positions present). The build is an explode of k xxhash64 positions
    + one distinct whose shuffle is capped at BLOOM_BITS rows — O(m), never
    O(distinct keys). This is the portable cousin of the parquet-footer
    bloom indexes in operators/storage.py: those live in file metadata
    for scan pruning; this one is a first-class value you can join,
    persist, or ship to another job as a pre-filter."""
    kcol = F.col(key) if isinstance(key, str) else key
    hf = _seeded_hash(hash)
    keyed = df.select(kcol.cast("string").alias("key")).filter(F.col("key").isNotNull())
    positions = F.array(
        *[
            (hf(F.col("key"), 1000 + d) % BLOOM_BITS).cast("int")
            for d in range(BLOOM_HASHES)
        ]
    )
    return keyed.select(F.explode(positions).alias("pos")).distinct()


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union of two filters built with the same `hash`: the merged filter
    answers membership for the union of both key sets — exactly (same
    positions as building from the concatenated input)."""
    return a.unionByName(b).distinct()


def bloom_probe(
    bloom: DataFrame,
    keys: DataFrame,
    *,
    hash: str = "xxhash64",
) -> DataFrame:
    """(key, maybe_present) for each probe row: present iff ALL k bit
    positions are set. No false negatives ever; false-positive rate
    ~(1 - e^{-kn/m})^k, pinned by test. The bloom side broadcasts (<=
    BLOOM_BITS rows); probing is a left join + count match — no shuffle of
    the probe side beyond its own aggregate. NULL probe keys are dropped,
    mirroring `bloom_build`'s NULL filter: NULL has no membership
    verdict (it was never inserted and hashing it would just hash the
    seed)."""
    kcol = F.col("key").cast("string")
    hf = _seeded_hash(hash)
    positions = F.array(
        *[
            (hf(kcol, 1000 + d) % BLOOM_BITS).cast("int")
            for d in range(BLOOM_HASHES)
        ]
    )
    probes = keys.filter(F.col("key").isNotNull()).select(
        F.col("key").alias("key"), F.explode(positions).alias("pos")
    )
    marked = probes.join(
        F.broadcast(bloom.withColumn("__hit", F.lit(1))), "pos", "left"
    )
    return marked.groupBy("key").agg(
        (F.count(F.lit(1)) == F.sum(F.coalesce(F.col("__hit"), F.lit(0))))
        .alias("maybe_present")
    )


def ams_f2_sketch(
    df: DataFrame,
    key: str | Column,
    *,
    hash: str = "xxhash64",
) -> DataFrame:
    """AMS (Alon–Matias–Szegedy) sketch for the second frequency moment
    F2 = Σ f_k² — the collision/self-join-size statistic: completes the
    frequency-moment family (F0 = HLL, F1 = count, heavy F∞ = two-phase
    prune, point queries = CMS). Each estimator row e holds AMS_COUNTERS
    signed counters: counter c accumulates ±1 per occurrence (sign and
    bucket from xxhash64). Like CMS this is a LINEAR sketch — counters
    add across partitions/batches (map-side-combined agg, O(e·c) shuffle
    whatever the key cardinality) and two sketches merge by addition.

    Returns (est, counter, val) — estimate F2 with `ams_f2_estimate`.
    """
    kcol = F.col(key) if isinstance(key, str) else key
    hf = _seeded_hash(hash)
    keyed = df.select(kcol.cast("string").alias("key")).filter(F.col("key").isNotNull())
    rows = F.array(
        *[
            F.struct(
                F.lit(e).alias("est"),
                (hf(F.col("key"), 2000 + e) % AMS_COUNTERS)
                .cast("int")
                .alias("counter"),
                F.when(hf(F.col("key"), 3000 + e) % 2 == 0, 1)
                .otherwise(-1)
                .alias("sgn"),
            )
            for e in range(AMS_ESTIMATORS)
        ]
    )
    return (
        keyed.select(F.explode(rows).alias("r"))
        .select("r.est", "r.counter", "r.sgn")
        .groupBy("est", "counter")
        .agg(F.sum("sgn").cast("long").alias("val"))
    )


def ams_f2_estimate(sketch: DataFrame) -> DataFrame:
    """One-row F2 estimate: per estimator, Σ val² over its counters is an
    unbiased F2 estimator (variance shrinks with n_counters); the MEDIAN
    across estimators tames outliers (median-of-means). All on the tiny
    e×c sketch — a driver-free two-level aggregate."""
    per_est = sketch.groupBy("est").agg(
        F.sum(F.col("val") * F.col("val")).cast("double").alias("f2_est")
    )
    return per_est.agg(
        F.expr("percentile(f2_est, 0.5)").cast("long").alias("f2_estimate"),
        F.count(F.lit(1)).cast("long").alias("n_estimators"),
    )
