"""Embedding similarity search over array<float> columns.

Two tiers, as a 100 TB design requires:

* **Exact brute-force cosine top-k** — the correctness baseline. Cosine is
  a pure Catalyst higher-order-function expression (zip_with + aggregate),
  evaluated JVM-side with whole-stage codegen; the query set is broadcast
  so the scan of the big side stays shuffle-free, and top-k per query is a
  window row_number (shuffle on query_id only — k rows per query survive).
* **LSH-bucketed ANN** (BucketedRandomProjectionLSH) — the scale path:
  candidates come from hash buckets, sub-quadratic in corpus size.

All math is done in DOUBLE regardless of the stored float32 — both for
numeric stability and for bit-parity with oracle engines.

Extension surface (SURVEY §2.C): driver-mandated similarity search; the reference has no joins or vector ops (SURVEY §2.B).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# Driver-side collects of the ANN query set / training sample are bounded
# by contract: the broadcast-small-side assumption. The guard fails fast
# with an actionable message instead of letting an oversized "query" side
# OOM the driver mid-collect.
MAX_QUERY_SET_ROWS = 65_536
MAX_TRAIN_SAMPLE_ROWS = 1_000_000
# Both exact tiers rank on cosine rounded to this many decimals (id
# tiebreak), so they agree row-for-row under floating-point jitter.
RANK_ROUND = 6


def _collect_query_set(
    queries: DataFrame, id_col: str, vec_col: str, *, max_rows: int = MAX_QUERY_SET_ROWS
):
    """Collect the (small) query side to the driver, erroring if it
    exceeds `max_rows`. Uses limit(max+1) so the driver never holds more
    than max_rows+1 rows even when the input is huge."""
    rows = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .limit(max_rows + 1)
        .collect()
    )
    if len(rows) > max_rows:
        raise ValueError(
            f"query set exceeds the driver-side bound of {max_rows} rows; "
            "the ANN query side is collected+broadcast by contract (small "
            "side). Batch the queries, raise max_rows deliberately, or swap "
            "the sides so the large side is the corpus."
        )
    return rows


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision (deterministic)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    # try_divide: zero-norm vectors have no defined cosine -> NULL,
    # not an ANSI DIVIDE_BY_ZERO error
    return F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b))


def cosine_topk(corpus: DataFrame, queries: DataFrame, *, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine, rank). Ranking orders by
    cosine rounded to `RANK_ROUND` decimals with neighbor_id as tiebreak,
    which makes the result deterministic under floating-point jitter.
    Self-matches (same id) are excluded.
    """
    # Norms are staged as columns BELOW the join (a per-side Project the
    # optimizer cannot inline across the join boundary): each row's norm
    # is computed once, so per-pair work is ONE fold (the dot product)
    # instead of three. Same arithmetic, bit-identical cosine.
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        norm_expr(F.col("embedding")).alias("__qnorm"),
    )
    # The |corpus| x |queries| dot-product folds run in the CORPUS SCAN
    # stage (the query side broadcasts, and the only exchange is the
    # final per-query window) — a small embeddings parquet scans as ONE
    # partition, pinning the entire pair fold to a single core (guide
    # §2.5; measured: the whole expression tier was single-task at
    # sf0.1). Spread an under-partitioned scan first; real-scale inputs
    # pass through untouched.
    from hw_kafka_flink_health_spark.sources.files import rebalance_if_narrow

    c = rebalance_if_narrow(corpus.select("vec_id", "embedding")).select(
        F.col("vec_id"),
        F.col("embedding"),
        norm_expr(F.col("embedding")).alias("__cnorm"),
    )
    joined = c.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    # try_divide: a zero-norm (all-zero) corpus or query vector has no
    # defined cosine — it becomes NULL and is filtered below, instead of
    # an ANSI DIVIDE_BY_ZERO kill. The arrow tier excludes NaN the same
    # way, so the tiers stay row-for-row parity on degenerate inputs.
    sim = F.try_divide(
        dot_expr(F.col("embedding"), F.col("__qvec")),
        F.col("__cnorm") * F.col("__qnorm"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("__sim"), RANK_ROUND).desc(), F.col("vec_id").asc()
    )
    return (
        joined.withColumn("__sim", sim)
        .filter(F.col("__sim").isNotNull())
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("__sim").alias("cosine"),
            "rank",
        )
    )


def neardup_pairs_blocked(
    vectors: DataFrame,
    *,
    block_col: str = "label",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-dup pairs within blocking-key groups (id1 < id2).

    Blocking on a cheap key (cluster id, shard, language) turns the O(n^2)
    cross join into sum of per-block squares — the standard first-stage
    blocker when an LSH index is not warranted.
    """
    a = vectors.select(
        F.col(block_col).alias("__blk"),
        F.col("vec_id").alias("id1"),
        F.col("embedding").alias("__v1"),
        norm_expr(F.col("embedding")).alias("__n1"),
    )
    b = vectors.select(
        F.col(block_col).alias("__blk"),
        F.col("vec_id").alias("id2"),
        F.col("embedding").alias("__v2"),
        norm_expr(F.col("embedding")).alias("__n2"),
    )
    sim = F.try_divide(
        dot_expr(F.col("__v1"), F.col("__v2")), F.col("__n1") * F.col("__n2")
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("cosine", sim)
        .filter(F.col("cosine") > threshold)
        .select("id1", "id2", "cosine")
    )


def _fit_kmeans_clusters(feat: DataFrame, vec_col: str, n_clusters: int, seed: int):
    """KMeans with degenerate-input protection: k is clamped to the number
    of DISTINCT vectors (Spark's k-means|| init crashes with an
    ArrayIndexOutOfBounds when it cannot find k distinct centers — all-ties
    corpora, integration tests), and corpora with <2 distinct vectors skip
    clustering entirely (everything is cluster 0). Returns (assigned_df
    with a `cluster` column, [(cluster_id, centroid_list), ...]). The
    guard costs one map-side-combined count-distinct over vector hashes."""
    from pyspark.sql import functions as F

    from pyspark.ml.clustering import KMeans

    stats = feat.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.xxhash64(F.col(vec_col).cast("string"))).alias("nd"),
    ).first()
    if stats.n < 2 or stats.nd < 2:
        first = feat.select(vec_col).first()
        centroid = [float(x) for x in first[0]] if first else []
        return feat.withColumn("cluster", F.lit(0)), [(0, centroid)]
    k_eff = max(2, min(n_clusters, int(stats.nd)))
    model = KMeans(
        k=k_eff, seed=seed, featuresCol="features", predictionCol="cluster"
    ).fit(feat)
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return model.transform(feat), centroids


def ivf_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Approximate top-5 via an IVF (inverted-file) coarse index.

    Train 10 k-means centroids, assign every corpus vector to its nearest
    centroid (the inverted lists), route each query to its 2 nearest
    centroids, and brute-force ONLY those lists. Search cost drops by
    ~5x vs brute force; recall grows with the probe count.

    At 100 TB the assignment is a write-once partitioning of the corpus
    (cluster id as a partition column), so a query scan prunes to the
    probed partitions — the classic IVF layout, expressed as Spark
    partition pruning. Returns (query_id, neighbor_id, cosine, rank).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.select(
        F.col("vec_id"),
        F.col("embedding"),
        array_to_vector(F.transform(F.col("embedding"), lambda x: x.cast("double"))).alias(
            "features"
        ),
    )
    clustered, centroids = _fit_kmeans_clusters(feat, "embedding", 10, 42)
    # corpus-side norms staged once per row (see cosine_topk): candidate
    # scoring below then pays one fold per pair, not three
    assigned = clustered.select(
        "vec_id", "embedding", "cluster", norm_expr(F.col("embedding")).alias("__cnorm")
    )
    cdf = corpus.sparkSession.createDataFrame(centroids, ["cluster", "centroid"])

    # route queries to their 2 nearest centroids (tiny broadcast join)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        norm_expr(F.col("embedding")).alias("__qnorm"),
    )
    routed = (
        q.crossJoin(F.broadcast(cdf))
        .withColumn("__csim", cosine_expr(F.col("__qvec"), F.col("centroid")))
        .withColumn(
            "__crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("__csim").desc(), F.col("cluster").asc()
                )
            ),
        )
        .filter(F.col("__crank") <= 2)
        .select("query_id", "__qvec", "__qnorm", "cluster")
    )

    # brute-force only within probed inverted lists
    cand = assigned.join(F.broadcast(routed), "cluster").filter(
        F.col("vec_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("__sim"), 6).desc(), F.col("vec_id").asc()
    )
    sim = F.try_divide(
        dot_expr(F.col("embedding"), F.col("__qvec")),
        F.col("__cnorm") * F.col("__qnorm"),
    )
    return (
        cand.withColumn("__sim", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("__sim").alias("cosine"),
            "rank",
        )
    )


def lsh_ann_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Approximate top-5 nearest neighbors via random-projection LSH.

    Euclidean LSH (BucketedRandomProjectionLSH) as the candidate
    generator; for L2-normalized vectors Euclidean ordering == cosine
    ordering. Returns (query_id, neighbor_id, distance, rank).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    def prep(df: DataFrame, idn: str) -> DataFrame:
        arr = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        norm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x))
        unit = F.transform(arr, lambda x: F.try_divide(x, norm))
        return df.select(
            F.col("vec_id").alias(idn), array_to_vector(unit).alias("features")
        )

    c = prep(corpus, "cid")
    q = prep(queries, "qid")
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=4,
        seed=42,
    )
    model = lsh.fit(c)
    pairs = model.approxSimilarityJoin(q, c, float("inf"), distCol="distance")
    w = Window.partitionBy("qid").orderBy(
        F.col("distance").asc(), F.col("cid").asc()
    )
    return (
        pairs.select(
            F.col("datasetA.qid").alias("query_id"),
            F.col("datasetB.cid").alias("neighbor_id"),
            "distance",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "rank",
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.col("distance").asc(), F.col("neighbor_id").asc()
                )
            )
            .cast("long"),
        )
        .filter(F.col("rank") <= 5)
    )


_SRP_BITS = 16
_SRP_BAND_BITS = 4


def _srp_sign_matrix(dim: int, n_bits: int) -> list[list[int]]:
    """Pinned ±1 hyperplane matrix for `srp_ann_topk`: entry (i, j) is +1
    iff the first 15 md5 hex digits of the string "i|j" parse to an even
    integer — the same engine-portable md5 coin used by the sketch
    operators' md5 tier, so a SQL oracle regenerates the identical
    matrix (`('0x' || substr(md5(i || '|' || j), 1, 15))::BIGINT % 2`).
    Deterministic, seedless, tiny (dim × n_bits entries, computed on the
    driver and folded into the plan as literals)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{i}|{j}".encode()).hexdigest()[:15], 16) % 2 == 0
            else -1
            for j in range(n_bits)
        ]
        for i in range(dim)
    ]


def _srp_sigs_arrow(
    staged: DataFrame, role: str, mat, n_bits: int
) -> DataFrame:
    """Arrow/numpy tier for the SRP signature pass: one int64 matmul per
    batch against the pinned ±1 hyperplane matrix. Bit-identical to the
    HOF fold — the quantized inputs are exact int64 (floor happens
    Spark-side in `bands_of`, so both tiers share the identical
    quantization expression) and integer dot products have no summation
    -order hazard — but ~10x faster past a few million multiply-adds
    (the 16 zip_with/aggregate folds evaluate ~1k lambdas per row)."""
    import numpy as np
    import pandas as pd

    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(staged.sparkSession)
    id_type = dict(staged.dtypes)[role]
    M_rows = [list(r) for r in mat]

    # NULL-absorbing int64 conversion without a silent float64
    # round-trip (bit-identity with the HOF fold, ADVICE r11) — shared
    # with the prefix scan's Arrow tier (review r12)
    from hw_kafka_flink_health_spark.operators._arrow import to_int64_exact

    def op(batches):
        M = np.array(M_rows, dtype=np.int64)  # (dim, n_bits)
        weights = np.int64(1) << np.arange(n_bits, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([to_int64_exact(v)[0] for v in pdf["_qv"]])
            dps = X @ M
            sig = ((dps > 0).astype(np.int64) * weights).sum(axis=1)
            yield pd.DataFrame({role: pdf[role].to_numpy(), "sig": sig})

    return staged.mapInPandas(op, schema=f"{role} {id_type}, sig long")


def srp_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    signature_work_threshold: int = 500_000,
    n_corpus: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via DETERMINISTIC sign-random-projection
    (hyperplane) LSH — the ANN family member whose whole pipeline is
    value-oracle-able, unlike the seeded tiers (`lsh_ann_topk`,
    `ivf_topk`, `pq_topk`):

    * each vector is quantized to integers (`floor(x · 1000)` in
      double — exact and identical in every engine, no float-sum
      order hazard: the hyperplane dot products below are pure int64
      arithmetic);
    * signature bit j (of 16) = [⟨q, h_j⟩ > 0] for the pinned ±1 hyperplane
      h_j (`_srp_sign_matrix` — md5-parity coins, no seeds). Vectors
      on the same side of all hyperplanes in a band collide: P[bit
      match] = 1 − θ/π (Charikar 2002), so banding 4 bits per band
      trades recall vs candidate count exactly like MinHash banding;
    * candidates = band-key equi-join of query vs corpus signatures
      (sub-quadratic, never all-pairs), then EXACT double-precision
      cosine re-rank of candidates only, row_number top-k with the
      round(sim, 6) + id tiebreak the exact tier uses.

    The signature pass tiers on estimated work (rows x dim x bits): a
    narrow codegen projection of 16 zip_with/aggregate folds below
    `signature_work_threshold`, ONE numpy int64 matmul per Arrow batch
    above it — bit-identical either way (the quantization expression is
    shared; integer dots have no summation-order hazard). The only
    shuffles are the band join and the final per-query window.
    `n_corpus` / `n_queries`, when passed, skip the per-side tier-probe
    count jobs (the cosine_topk_auto precomputed-sizes pattern, ADVICE
    r9 / review r11). They are UPPER-BOUND ROUTING HINTS, not exact row
    counts (ADVICE r12): callers pass whole-table or pinned-sample-size
    bounds that may exceed the dim-filtered participating set — always
    safe because the tiers are bit-identical, but never repurpose them
    for anything correctness-bearing. Returns (query_id, neighbor_id,
    sim, rank).
    """
    # one probe job reads dim AND the corpus row count (the count only
    # routes the signature tier — both tiers are bit-identical, so an
    # approximate size is always SAFE; r12: the separate dim + count +
    # count probe jobs were ~20% of this operator's wall time at sf0.1)
    if n_corpus is None:
        probe = corpus.agg(
            F.max(F.size(F.col("embedding"))).alias("d"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        dim = probe["d"] or 0
        n_corpus = int(probe["n"])
    else:
        dim_row = corpus.agg(F.max(F.size(F.col("embedding")))).first()
        dim = dim_row[0] or 0
    mat = _srp_sign_matrix(dim, _SRP_BITS)
    n_bands = _SRP_BITS // _SRP_BAND_BITS
    known_n = {"query_id": n_queries, "neighbor_id": n_corpus}

    def bands_of(df: DataFrame, role: str) -> DataFrame:
        qv = F.transform(
            F.col("embedding"), lambda x: F.floor(x.cast("double") * 1000)
        )
        # Only vectors of exactly the corpus dimension participate: a
        # ragged/NULL vector would NULL-pad the zip_with below, poisoning
        # every dot product to NULL (sig 0 — a spurious bucket), while a
        # SQL replay would compute a partial sum. Dropping them keeps the
        # Spark result and the oracle bit-identical.
        staged = df.filter(F.size(F.col("embedding")) == dim).select(
            F.col("vec_id").alias(role), qv.alias("_qv")
        )
        # Tier the signature pass on estimated work (rows x dim x bits):
        # the 16 zip_with/aggregate folds evaluate ~dim*16 lambdas
        # per row, so a large corpus pays seconds HOF vs ~1 s for the
        # Arrow int64-matmul tier — which is BIT-IDENTICAL (quantization
        # stays in the shared Spark expression above; integer dots have
        # no summation-order hazard). A caller-supplied size skips the
        # probe count job.
        n_side = known_n[role] if known_n[role] is not None else staged.count()
        if n_side * max(dim, 1) * _SRP_BITS > signature_work_threshold:
            sigs = _srp_sigs_arrow(staged, role, mat, _SRP_BITS)
        else:
            # The dim x 16 fold is rendered as ONE SQL string per
            # column and parsed server-side: the same expressions built
            # through the F.* API cost ~2 s of pure DRIVER construction
            # per call (thousands of py4j round trips for the literal
            # matrix and the lambda plumbing — cProfile, r13). Resolved
            # plans are identical; only who builds them changed.
            # NULL elements count as 0, matching SQL SUM's NULL-skipping
            # over the exploded replay.
            def mat_col(j: int) -> str:
                return "array(" + ",".join(str(int(mat[i][j])) for i in range(dim)) + ")"

            dp_exprs = [
                (
                    f"aggregate(zip_with(_qv, {mat_col(j)}, "
                    "(a, s) -> coalesce(a, CAST(0 AS BIGINT)) * CAST(s AS BIGINT)), "
                    f"CAST(0 AS BIGINT), (acc, v) -> acc + v) AS dp{j}"
                )
                for j in range(_SRP_BITS)
            ]
            dots = staged.selectExpr(role, *dp_exprs)
            sig_sql = " + ".join(
                f"(CASE WHEN dp{j} > 0 THEN CAST({1 << j} AS BIGINT) "
                "ELSE CAST(0 AS BIGINT) END)"
                for j in range(_SRP_BITS)
            )
            sigs = dots.selectExpr(role, f"CAST(0 AS BIGINT) + {sig_sql} AS sig")
        band_entries = [
            F.struct(
                F.lit(b).alias("band"),
                (
                    F.shiftright(F.col("sig"), b * _SRP_BAND_BITS)
                    % (1 << _SRP_BAND_BITS)
                ).alias("bval"),
            )
            for b in range(n_bands)
        ]
        return sigs.select(
            role, F.explode(F.array(*band_entries)).alias("bk")
        ).select(role, "bk.band", "bk.bval")

    cand = (
        bands_of(queries, "query_id")
        .join(bands_of(corpus, "neighbor_id"), ["band", "bval"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    cv = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    sims = cand.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        cosine_expr(F.col("qe"), F.col("ne")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("sim"), 6).desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_det_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF (inverted-file) ANN with every source of randomness pinned —
    the coarse-quantizer sibling of `srp_ann_topk` in the value-oracled
    ANN family, where `ivf_topk` (seeded kmeans) is the recall-tunable
    production tier:

    * centroids = the 10 corpus vectors with the
      lexicographically smallest `md5(id)` — a deterministic,
      engine-portable pseudo-random sample standing in for trained
      centers (data-independent, so no iterative fit to replay);
    * assignment = argmax cosine to a centroid, ranked by the same
      round(sim, 6) + centroid-id tiebreak the exact tier uses for FP
      determinism — this builds the inverted lists;
    * probe = each query scores the centroid table (broadcast,
      10 rows) and searches its top 2 lists only;
      candidates join the inverted lists on centroid id — cost scales
      with list sizes, never the full corpus per query;
    * exact double-precision cosine re-ranks candidates, row_number
      top-3.

    Returns (query_id, neighbor_id, sim, rank).
    """
    cent = (
        corpus.select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("ce"),
            F.md5(F.col("vec_id").cast("string")).alias("__h"),
        )
        .orderBy(F.col("__h").asc(), F.col("cid").asc())
        .limit(10)
        .drop("__h")
    )
    sim_c = cosine_expr(F.col("ve"), F.col("ce"))

    def nearest(df: DataFrame, role: str, top: int) -> DataFrame:
        scored = (
            df.select(F.col("vec_id").alias(role), F.col("embedding").alias("ve"))
            .crossJoin(F.broadcast(cent))
            .select(role, "cid", sim_c.alias("csim"))
        )
        w = Window.partitionBy(role).orderBy(
            F.round(F.col("csim"), 6).desc(), F.col("cid").asc()
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top)
            .select(role, "cid")
        )

    inv_lists = nearest(corpus, "neighbor_id", 1)
    probes = nearest(queries, "query_id", 2)
    cand = (
        probes.join(inv_lists, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    cv = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    sims = cand.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        cosine_expr(F.col("qe"), F.col("ne")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("sim"), 6).desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched NumPy matmul (mapInPandas).

    Same contract as `cosine_topk` (exact, self-matches excluded,
    round+id-tiebreak ranking) but the per-pair math runs as ONE BLAS
    `C @ Q.T` per Arrow batch instead of a per-row higher-order-function
    fold — the documented "vectorized pandas UDF beats per-element
    expression eval" path, and the one to prefer when dims x pairs gets
    large. Each batch emits only its LOCAL top-k candidates per query
    (k x n_queries rows per batch, a massive shuffle reduction at 100 TB
    corpus scale); a final window pass picks the global top-k from the
    per-batch winners, which is exact because a global winner is
    necessarily a winner within its own batch.

    The query set ships to executors as a Spark broadcast variable (one
    torrent transfer per executor, off the per-task closure path; bounded
    by the same small-side assumption the broadcast join in `cosine_topk`
    makes). Parity with the expression path is pinned in tests.
    """
    import numpy as np
    import pandas as pd

    qrows = _collect_query_set(queries, "vec_id", "embedding")
    qids_l = np.array([r.qid for r in qrows], dtype=np.int64)
    qmat_l = np.array([r.qv for r in qrows], dtype=np.float64)  # (q, d)
    bq = corpus.sparkSession.sparkContext.broadcast((qids_l, qmat_l))

    out_schema = (
        f"query_id long, neighbor_id long, cosine double"
    )
    # Local selection must be consistent with the GLOBAL ranking, which
    # orders by round(cosine, RANK_ROUND): keep every candidate whose
    # rounded sim is within 1.5 quanta of the local k-th kept value. The
    # margin is deliberately 1.5x the quantum, not 1.0x: np.round
    # (half-even) and Spark's round (half-up) can disagree by a full
    # quantum at exact midpoints on EACH of the two values being compared
    # (the candidate and the k-th), and the remaining 0.5 quantum is
    # float-representation slack — do not "simplify" this to 1.0. A
    # dropped candidate then has >= k batch-mates strictly above it after
    # Spark-side rounding, so it can never win globally on the id
    # tie-break.
    quantum = 10.0 ** (-RANK_ROUND)

    def batches(it):
        qids, qmat = bq.value
        qnorm = np.sqrt((qmat * qmat).sum(axis=1))  # (q,)
        for pdf in it:
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            c = np.array(list(pdf["__vec"]), dtype=np.float64)  # (n, d)
            if len(ids) == 0:
                continue
            cnorm = np.sqrt((c * c).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (c @ qmat.T) / np.outer(cnorm, qnorm)  # (n, q)
            # mask self-matches AND zero-norm (NaN cosine) candidates —
            # the same exclusion the expression tier's try_divide+filter does
            for j in range(len(qids)):
                col = sims[:, j]
                mask = (ids != qids[j]) & ~np.isnan(col)
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                take = min(k, len(cand_idx))
                rounded = np.round(col[cand_idx], RANK_ROUND)
                # argpartition: O(n) local selection on the ROUNDED sims,
                # then widen to every rounded near-tie of the k-th value
                kth = np.partition(-rounded, take - 1)[take - 1]
                keep = cand_idx[rounded >= (-kth) - quantum * 1.5]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(keep), qids[j], dtype=np.int64),
                        "neighbor_id": ids[keep],
                        "cosine": col[keep],
                    }
                )

    # Deliberately NOT rebalanced (r12 measurement): a small corpus is one
    # Arrow batch = one cheap BLAS matmul, and adding a round-robin
    # exchange ahead of the Python pass measured ~2x SLOWER at sf0.1
    # (0.7 -> 1.4 s) — while at real scale the scan arrives
    # multi-partition and a rebalance would no-op anyway. The expression
    # tier is the one that needs spreading (per-row fold in the scan
    # stage); this tier's unit of work is already batch-sized.
    local = corpus.select(
        F.col("vec_id").alias("__id"), F.col("embedding").alias("__vec")
    ).mapInPandas(batches, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), RANK_ROUND).desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _lloyd(X, k: int, iters: int, rng):
    """Plain deterministic Lloyd's k-means on a (bounded) training sample.

    Runs on the driver over at most `pq_train`'s sample_size rows — PQ
    codebooks are trained on a sample in every production system (FAISS
    does exactly this); the full corpus never leaves the executors.
    """
    import numpy as np

    n = X.shape[0]
    k = min(k, n)
    C = X[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(iters):
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; argmin over c drops ||x||^2
        d2 = -2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def pq_train(corpus: DataFrame, *, m: int = 4, sample_size: int = 2000):
    """Train product-quantization codebooks: split dims into `m` subspaces,
    run 256-centroid k-means (10 Lloyd iterations) on each over a
    DETERMINISTIC bounded sample (hash_unit-ordered, so retrains
    reproduce bit-identically — no random() draw).

    Returns (codebooks ndarray (m, 256, d/m), dim) for `pq_encode`/`pq_topk`.
    Vectors are unit-normalized before training so PQ distances rank like
    cosine; zero vectors are excluded (no defined direction).
    """
    import numpy as np

    from hw_kafka_flink_health_spark.operators.mlprep import hash_unit

    if sample_size > MAX_TRAIN_SAMPLE_ROWS:
        raise ValueError(
            f"sample_size={sample_size} exceeds the driver-side training "
            f"bound of {MAX_TRAIN_SAMPLE_ROWS} rows; PQ codebooks train on "
            "a bounded sample by contract — a larger sample does not "
            "improve the codebook enough to justify driver memory."
        )
    rows = (
        corpus.select(
            F.col("embedding").alias("v"), hash_unit(F.col("vec_id"), "pq").alias("u")
        )
        .orderBy("u", "v")
        .limit(sample_size)  # bounded: training sample only, never the corpus
        .collect()
    )
    X = np.array([r.v for r in rows], dtype=np.float64)
    norms = np.sqrt((X * X).sum(axis=1))
    X = X[norms > 0] / norms[norms > 0][:, None]
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    import hashlib

    # stable seed: python's str hash() is process-salted, md5 is not
    rng = np.random.RandomState(
        int(hashlib.md5(b"pq").hexdigest()[:8], 16) % (2**31)
    )
    codebooks = np.stack(
        [_lloyd(X[:, j * ds : (j + 1) * ds], 256, 10, rng) for j in range(m)]
    )
    return codebooks, d


def pq_encode(corpus: DataFrame, codebooks) -> DataFrame:
    """Encode every corpus vector as `m` one-byte centroid ids (the PQ
    codes): a 64-dim float64 row becomes m=4 bytes — the ~128x memory
    squeeze that makes billion-vector ANN fit a cluster's RAM. One
    Arrow-batched pass, argmin per subspace via BLAS; write the result
    once and search it forever (`pq_topk` takes this as its index).
    """
    import numpy as np
    import pandas as pd

    bc = corpus.sparkSession.sparkContext.broadcast(codebooks)
    m = len(codebooks)
    ds = codebooks.shape[2]

    def encode(it):
        cb = bc.value
        for pdf in it:
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            X = np.array(list(pdf["__vec"]), dtype=np.float64)
            if len(ids) == 0:
                continue
            norms = np.sqrt((X * X).sum(axis=1))
            keep = norms > 0
            X = X[keep] / norms[keep][:, None]
            ids = ids[keep]
            codes = np.empty((len(ids), m), dtype=np.int32)
            for j in range(m):
                sub = X[:, j * ds : (j + 1) * ds]
                d2 = -2.0 * (sub @ cb[j].T) + (cb[j] * cb[j]).sum(axis=1)[None, :]
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({"vec_id": ids, "codes": list(codes)})

    return corpus.select(
        F.col("vec_id").alias("__id"), F.col("embedding").alias("__vec")
    ).mapInPandas(encode, schema="vec_id long, codes array<int>")


def pq_topk(codes_df: DataFrame, queries: DataFrame, codebooks) -> DataFrame:
    """Approximate top-5 by asymmetric distance computation (ADC) over PQ
    codes: each query builds an (m x 256) lookup table of exact
    query-subvector-to-centroid squared distances, and every corpus
    vector's approximate distance is m TABLE LOOKUPS summed — no float
    math per pair, which is why PQ scans are memory-bandwidth-bound and
    fast even on CPUs. For unit vectors approx_cosine = 1 - d2/2.

    Same fan-in shape as `cosine_topk_arrow`: per-batch local top-5 (5
    rows per query per batch survive), then a global window. Returns
    (query_id, neighbor_id, approx_cosine, rank) — approximate by
    construction, so it registers rows-only with a recall property test
    (`tests/test_approx_operators.py`), the same posture as IVF/LSH.
    """
    import numpy as np
    import pandas as pd

    qrows = _collect_query_set(queries, "vec_id", "embedding")
    qids = np.array([r.qid for r in qrows], dtype=np.int64)
    Q = np.array([r.qv for r in qrows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    qids, Q = qids[qn > 0], Q[qn > 0] / qn[qn > 0][:, None]
    m = len(codebooks)
    ds = codebooks.shape[2]
    # LUT[q, j, c] = ||Q[q, sub_j] - codebook[j][c]||^2  (exact, query side)
    lut = np.stack(
        [
            ((Q[:, j * ds : (j + 1) * ds][:, None, :] - codebooks[j][None, :, :]) ** 2).sum(
                axis=2
            )
            for j in range(m)
        ],
        axis=1,
    )
    bc = codes_df.sparkSession.sparkContext.broadcast((qids, lut))

    def score(it):
        ids_q, tables = bc.value
        for pdf in it:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            if len(ids) == 0:
                continue
            codes = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            for qi in range(len(ids_q)):
                # ADC: gather per-subspace LUT entries and sum
                d2 = tables[qi][np.arange(codes.shape[1])[None, :], codes].sum(axis=1)
                sim = 1.0 - d2 / 2.0
                mask = ids != ids_q[qi]
                cand = np.nonzero(mask)[0]
                if len(cand) == 0:
                    continue
                take = min(5, len(cand))
                top = cand[np.argpartition(-sim[cand], take - 1)[:take]]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(top), ids_q[qi], dtype=np.int64),
                        "neighbor_id": ids[top],
                        "approx_cosine": sim[top],
                    }
                )

    local = codes_df.mapInPandas(
        score, schema="query_id long, neighbor_id long, approx_cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.round("approx_cosine", 6).alias("approx_cosine"), "rank")
    )


def semdedup_det(vectors: DataFrame, *, n_clusters: int = 8) -> DataFrame:
    """SemDeDup with every source of randomness pinned — the
    value-oracle-able twin of :func:`semdedup`, completing the
    deterministic ANN/dedup family (`srp_ann_topk`, `ivf_det_topk`):

    * clusters = argmax-cosine assignment against the `n_clusters`
      corpus vectors with the lexicographically smallest ``md5(id)``
      (the same engine-portable pseudo-random centroid sample
      `ivf_det_topk` uses — data-independent, so no kmeans fit to
      replay), ranked by the round(csim, 6) + centroid-id tiebreak;
    * prune rule = identical to `semdedup`'s greedy min-id
      representative: a vector is dropped iff round(cosine, 6) >
      0.99 against ANY lower-id vector in its cluster — one
      anti-joinable drop set, no iteration; the round-6 grain makes the
      threshold comparison engine-portable (both engines fold the
      64-element products in index order, but the pinned grain removes
      even that assumption from the contract).

    Returns (vec_id, cluster = centroid id as long, keep). Same
    sub-quadratic shape as `semdedup`: the pair pass is per-cluster
    (sum of per-cluster squares), never corpus-wide; at 100 TB raise
    `n_clusters` so lists stay bounded and write the corpus partitioned
    by cluster id."""
    # Norms are computed ONCE per vector and carried as a column: cosine
    # against 64 centroids (and against every cluster-mate) reuses the
    # same sqrt(sum sq) value instead of re-folding it per pair — same
    # doubles bit-for-bit (identical sequential fold), ~3x less HOF work.
    cent = (
        vectors.select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("ce"),
            F.md5(F.col("vec_id").cast("string")).alias("__h"),
        )
        .orderBy(F.col("__h").asc(), F.col("cid").asc())
        .limit(n_clusters)
        .withColumn("cn", norm_expr(F.col("ce")))
        .drop("__h")
    )
    v = vectors.select(
        F.col("vec_id"),
        F.col("embedding").alias("ve"),
        norm_expr(F.col("embedding")).alias("nv"),
    )
    scored = v.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        F.try_divide(
            dot_expr(F.col("ve"), F.col("ce")), F.col("nv") * F.col("cn")
        ).alias("csim"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.round(F.col("csim"), 6).desc(), F.col("cid").asc()
    )
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    av = assigned.join(v, "vec_id").localCheckpoint()
    a = av.select(
        "cid", F.col("vec_id").alias("id1"), F.col("ve").alias("v1"),
        F.col("nv").alias("n1"),
    )
    b = av.select(
        "cid", F.col("vec_id").alias("id2"), F.col("ve").alias("v2"),
        F.col("nv").alias("n2"),
    )
    drops = (
        a.join(b, "cid")
        .filter(F.col("id1") < F.col("id2"))
        .filter(
            F.round(
                F.try_divide(
                    dot_expr(F.col("v1"), F.col("v2")), F.col("n1") * F.col("n2")
                ),
                6,
            )
            > F.lit(0.99)
        )
        .select(F.col("id2").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return av.join(drops, "vec_id", "left").select(
        "vec_id",
        F.col("cid").cast("long").alias("cluster"),
        F.col("__dropped").isNull().alias("keep"),
    )


def semdedup(
    vectors: DataFrame,
    *,
    n_clusters: int = 10,
    threshold: float = 0.95,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    k-means clustering the embedding space, then pruning near-identical
    pairs WITHIN each cluster only.

    The cluster assignment is the blocker that makes this sub-quadratic:
    pairwise cosine is computed per cluster (sum of per-cluster squares
    via ``neardup_pairs_blocked``), never across the corpus. The keep
    rule is the greedy min-id representative: a vector is dropped iff it
    is within ``threshold`` cosine of ANY lower-id vector in its cluster
    — one anti-joinable drop set, no iteration. Returns
    (vec_id, cluster, keep) for every input vector.

    At 100 TB: train the quantizer on a bounded sample, write the corpus
    partitioned by cluster id (same layout IVF wants), and the pair pass
    becomes per-partition work with no global shuffle."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = vectors.select(
        F.col("vec_id"),
        F.col("embedding"),
        array_to_vector(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("features"),
    )
    clustered, _ = _fit_kmeans_clusters(feat, "embedding", n_clusters, seed)
    assigned = clustered.select("vec_id", "embedding", "cluster")
    pairs = neardup_pairs_blocked(
        assigned,
        block_col="cluster",
        threshold=threshold,
    )
    drops = pairs.select(F.col("id2").alias("vec_id")).distinct().withColumn(
        "__drop", F.lit(True)
    )
    return assigned.join(drops, "vec_id", "left").select(
        "vec_id", "cluster", F.col("__drop").isNull().alias("keep")
    )


def cosine_topk_auto(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    work_threshold: int = 10_000_000,
    n_corpus: int | None = None,
    n_queries: int | None = None,
    dims: int | None = None,
) -> DataFrame:
    """Exact cosine top-k with the tier CHOSEN from estimated work.

    PLANS.md pins the measured crossover between the two exact tiers at
    ~10M multiply-adds on this container: below it the Catalyst
    higher-order-function fold (`cosine_topk`) wins because the Arrow
    tier pays ~0.5-1 s of fixed Python-worker/transfer cost; above it
    the BLAS matmul tier (`cosine_topk_arrow`) wins and its advantage
    grows with dims. This wrapper prices the job as
    corpus_rows x query_rows x dims and routes accordingly — the rule a
    user would otherwise apply by hand, and the one a 100 TB deployment
    wants automated (at that scale it always routes to arrow).

    Pricing costs up to TWO eager jobs: one corpus count
    (metadata-cheap for a bare parquet scan, a real pass for a
    filtered/derived frame) and one combined count+dim aggregate over
    the small query side. Hot-path callers that already know the sizes
    pass `n_corpus` / `n_queries` / `dims` and each known value skips
    its probe job entirely (ADVICE r9) — `n_corpus` alone removes the
    expensive side; the query-side probe only runs when `n_queries` or
    `dims` is missing.

    Both tiers share the same contract (exact, self-matches excluded,
    round+id-tiebreak ranking) and the same oracle/parity tests, so the
    choice is purely a latency decision — never a result change.
    """
    n_c = corpus.count() if n_corpus is None else int(n_corpus)
    if n_queries is None or dims is None:
        probe = queries.agg(
            F.count(F.lit(1)).alias("n"), F.max(F.size(F.col("embedding"))).alias("d")
        ).first()
        n_q = int(probe["n"]) if n_queries is None else int(n_queries)
        dim = (
            (int(probe["d"]) if probe["d"] is not None else 0)
            if dims is None
            else int(dims)
        )
    else:
        n_q, dim = int(n_queries), int(dims)
    work = n_c * n_q * max(dim, 1)
    tier = cosine_topk_arrow if work > work_threshold else cosine_topk
    return tier(corpus, queries, k=k)
