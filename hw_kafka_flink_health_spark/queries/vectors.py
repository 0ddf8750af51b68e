"""Embedding similarity-search queries over the embeddings table.
Extension surface (SURVEY §2.C): embedding similarity mandated beyond the reference (SURVEY §2.B: no vector ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.sequential import fold, greedy_mmr
from hw_kafka_flink_health_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_auto,
    ivf_det_topk,
    lsh_ann_topk,
    neardup_pairs_blocked,
    srp_ann_topk,
)
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table

_COS = (
    "list_inner_product(e.embedding::DOUBLE[], q.qe) / "
    "(sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
    "sqrt(list_inner_product(q.qe, q.qe)))"
)


@register(
    "embedding_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < 20
    ), c AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, {_COS} AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
    ), r AS (
        SELECT query_id, neighbor_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY round(sim, 6) DESC, neighbor_id) AS BIGINT) AS rank
        FROM c
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cosine, rank
    FROM r WHERE rank <= 5
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for 20 query vectors.

    Query set broadcast, corpus scanned once, cosine as a codegen'd
    higher-order-function expression in double precision; ranking uses
    round(sim, 6) + id tiebreak for FP determinism."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    out = cosine_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


_SRP_CTES = """WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), el AS (
      SELECT vec_id, e, unnest(range(len(e))) AS i FROM v
      WHERE len(e) = (SELECT max(len(e)) FROM v)
    ), q AS (
      SELECT vec_id, i,
             CAST(floor(e[CAST(i + 1 AS INTEGER)] * 1000) AS BIGINT) AS qx
      FROM el
    ), m AS (
      SELECT di.i, j.range AS j,
             CASE WHEN ('0x' || substr(md5(CAST(di.i AS VARCHAR) || '|'
                                            || CAST(j.range AS VARCHAR)), 1, 15))::BIGINT
                       % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM (SELECT DISTINCT i FROM el) di CROSS JOIN range(16) j
    ), dots AS (
      SELECT q.vec_id, m.j, sum(q.qx * m.sgn)::BIGINT AS dp
      FROM q JOIN m ON q.i = m.i
      GROUP BY 1, 2
    ), sigs AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN dp > 0 THEN 1::BIGINT << CAST(j AS INTEGER)
                           ELSE 0 END) AS BIGINT) AS sig
      FROM dots GROUP BY 1
    ), bands AS (
      SELECT vec_id, b.range AS band,
             (sig >> CAST(4 * b.range AS INTEGER)) % 16 AS bval
      FROM sigs, range(4) b
    ), cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
      FROM bands qb JOIN bands cb USING (band, bval)
      WHERE qb.vec_id < 20 AND cb.vec_id <> qb.vec_id
    ), sims AS (
      SELECT c.query_id, c.neighbor_id,
             list_inner_product(a.e, b.e) /
               (sqrt(list_inner_product(a.e, a.e)) *
                sqrt(list_inner_product(b.e, b.e))) AS sim
      FROM cand c
      JOIN v a ON a.vec_id = c.query_id
      JOIN v b ON b.vec_id = c.neighbor_id
    ), r AS (
      SELECT query_id, neighbor_id, sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(sim, 6) DESC, neighbor_id)
                  AS BIGINT) AS rank
      FROM sims
    )"""


@register(
    "embedding_ann_srp",
    oracle=_SRP_CTES
    + """
    SELECT query_id, neighbor_id, round(sim, 4) AS sim, rank
    FROM r WHERE rank <= 3
    """,
)
def embedding_ann_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via DETERMINISTIC sign-random-projection LSH
    (`operators/similarity.py:srp_ann_topk`) — the ANN family member
    that IS value-oracled, where the seeded tiers (`embedding_ann_lsh`
    / `_ivf` / `_pq`) are rows-only by construction: hyperplane signs
    come from pinned md5-parity coins over integer-quantized vectors
    (exact int64 dot products — no float-summation-order hazard),
    4-bit banding generates candidates sub-quadratically, and an exact
    double-precision cosine re-ranks just the candidates. DuckDB
    regenerates the identical matrix, signatures, bands, candidates,
    and ranking."""
    emb = load_table(spark, sf_dir, "embeddings")
    # n_queries is a tier-routing size only (both signature tiers are
    # bit-identical) — the vec_id < 20 filter bounds it, so passing the
    # bound skips the query-side count probe job (r12)
    out = srp_ann_topk(emb, emb.filter(F.col("vec_id") < 20), k=3, n_queries=20)
    return out.select(
        "query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank"
    )


@register(
    "embedding_ann_ivf_det",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (
      SELECT vec_id AS cid, e AS ce FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 10
    ), ascore AS (
      SELECT v.vec_id, c.cid,
             list_inner_product(v.e, c.ce) /
               (sqrt(list_inner_product(v.e, v.e)) *
                sqrt(list_inner_product(c.ce, c.ce))) AS csim
      FROM v CROSS JOIN cent c
    ), assigned AS (
      SELECT vec_id AS neighbor_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY round(csim, 6) DESC, cid) AS rn
        FROM ascore
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY round(csim, 6) DESC, cid) AS rn
        FROM ascore WHERE vec_id < 20
      ) WHERE rn <= 2
    ), cand AS (
      SELECT DISTINCT p.query_id, a.neighbor_id
      FROM probes p JOIN assigned a USING (cid)
      WHERE a.neighbor_id <> p.query_id
    ), sims AS (
      SELECT c.query_id, c.neighbor_id,
             list_inner_product(a.e, b.e) /
               (sqrt(list_inner_product(a.e, a.e)) *
                sqrt(list_inner_product(b.e, b.e))) AS sim
      FROM cand c
      JOIN v a ON a.vec_id = c.query_id
      JOIN v b ON b.vec_id = c.neighbor_id
    ), r AS (
      SELECT query_id, neighbor_id, sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(sim, 6) DESC, neighbor_id)
                  AS BIGINT) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS sim, rank
    FROM r WHERE rank <= 3
    """,
)
def embedding_ann_ivf_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, fully value-oracled
    (`operators/similarity.py:ivf_det_topk`): centroids are the 10
    corpus vectors with the smallest md5(id) (a deterministic
    engine-portable sample — no kmeans fit to replay), inverted lists
    come from an argmax-cosine assignment with the round(sim,6) +
    centroid-id tiebreak, each query probes its top-2 lists, and exact
    cosine re-ranks the candidates. DuckDB replays centroids, lists,
    probes, and ranking identically. The seeded kmeans tier
    (`embedding_ann_ivf`) remains the trained-quantizer path with its
    recall test."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_det_topk(emb, emb.filter(F.col("vec_id") < 20))
    return out.select(
        "query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank"
    )


@register(
    "embedding_neardup_pairs",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS ve FROM embeddings)
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           round(list_inner_product(a.ve, b.ve) /
                 (sqrt(list_inner_product(a.ve, a.ve)) * sqrt(list_inner_product(b.ve, b.ve))), 4) AS cosine
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_inner_product(a.ve, b.ve) /
          (sqrt(list_inner_product(a.ve, a.ve)) * sqrt(list_inner_product(b.ve, b.ve))) > 0.3
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs within label blocks (cosine > 0.3 — the
    synthetic vectors are near-orthogonal, so the threshold is set where
    pairs actually exist) — blocking turns O(n^2) into per-block squares."""
    emb = load_table(spark, sf_dir, "embeddings")
    return neardup_pairs_blocked(emb, threshold=0.3).select(
        "id1", "id2", F.round("cosine", 4).alias("cosine")
    )


@register(
    "embedding_cosine_topk_arrow",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < 20
    ), c AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, {_COS} AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
    ), r AS (
        SELECT query_id, neighbor_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY round(sim, 6) DESC, neighbor_id) AS BIGINT) AS rank
        FROM c
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cosine, rank
    FROM r WHERE rank <= 5
    """,
)
def embedding_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized-UDF tier of exact cosine top-k: one BLAS matmul
    per Arrow batch (mapInPandas), per-batch local top-k so only
    k x n_queries candidate rows ever shuffle. Same oracle as the
    expression path — the two tiers are interchangeable, pick by
    dims x pairs (parity pinned in tests/test_approx_operators.py)."""
    from hw_kafka_flink_health_spark.operators.similarity import cosine_topk_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    out = cosine_topk_arrow(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


_WIDE_COS_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id % 20 = 0
    ), c AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, {_COS} AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
    ), r AS (
        SELECT query_id, neighbor_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY round(sim, 6) DESC, neighbor_id) AS BIGINT) AS rank
        FROM c
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cosine, rank
    FROM r WHERE rank <= 5
    """


@register("embedding_cosine_topk_wide", oracle=_WIDE_COS_ORACLE)
def embedding_cosine_topk_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-tier cosine top-5 with a WIDE query set (every 20th
    vector — 5% of the corpus as queries). At sf0.1 this is ~12.8M
    multiply-adds, ABOVE the measured arrow/BLAS crossover (~10M,
    PLANS.md epilogue): benched side-by-side with the arrow sibling so
    the regime where the vectorized tier should win is visible (and a
    BLAS-path regression shows up) round-over-round."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    out = cosine_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


@register("embedding_cosine_topk_arrow_wide", oracle=_WIDE_COS_ORACLE)
def embedding_cosine_topk_arrow_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/BLAS-tier sibling of `embedding_cosine_topk_wide`: one
    matmul per Arrow batch, per-batch local top-k. Above the ~10M-mult
    crossover this tier should beat the expression tier — the bench pair
    demonstrates the tier guidance at its operating point instead of
    permanently showing arrow 'losing' below it."""
    from hw_kafka_flink_health_spark.operators.similarity import cosine_topk_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    out = cosine_topk_arrow(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


@register("embedding_ann_ivf")  # approximate/seeded (kmeans): rows-only
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-index ANN: kmeans inverted lists, n_probe=2 of 10 —
    the partition-pruned scale path (recall asserted in tests)."""
    from hw_kafka_flink_health_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(emb, queries).select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


@register("embedding_ann_pq")  # approximate/trained (kmeans codebooks): rows-only
def embedding_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: deterministic sample-trained codebooks,
    one-pass byte encoding (m=8 bytes per 64-dim vector, the ~64x memory
    squeeze), ADC table-lookup scoring (`operators/similarity.py:pq_topk`).
    Approximate by construction -> rows-only; recall vs exact brute force
    is asserted in tests/test_approx_operators.py."""
    from hw_kafka_flink_health_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    codebooks, _ = pq_train(emb, m=8, sample_size=1000)
    codes = pq_encode(emb, codebooks)
    return pq_topk(codes, queries, codebooks)


@register("embedding_ann_lsh")  # approximate/seeded: rows-only by design
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-projection LSH (seeded; candidates differ
    from exact top-k by design — recall is checked in tests, not by hash)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return lsh_ann_topk(emb, queries).select(
        "query_id", "neighbor_id", F.round("distance", 4).alias("distance"), "rank"
    )


@register(
    "embedding_int8_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings
    ), s AS (
      SELECT vec_id, ve,
             list_min(ve) AS mn,
             (list_max(ve) - list_min(ve)) / 255.0 AS scale
      FROM v
    )
    SELECT vec_id,
           round(mn, 6) AS mn,
           round(scale, 8) AS scale,
           CAST(list_sum(list_transform(ve,
             x -> CAST(floor((x - mn) / scale + 0.5) AS BIGINT))) AS BIGINT)
             AS code_sum,
           round(list_max(list_transform(ve,
             x -> abs(x - (mn + floor((x - mn) / scale + 0.5) * scale)))), 6)
             AS max_abs_err
    FROM s
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 min/max quantization audit per vector: dequant params, exact
    integer checksum over all codes, and max reconstruction error (bounded
    by scale/2). The compression pass before an ANN index ships — narrow,
    no shuffle, value-hashed against DuckDB's list lambdas."""
    from hw_kafka_flink_health_spark.operators.mlprep import int8_quantize_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return int8_quantize_stats(emb)


@register(
    "embedding_label_centroids",
    oracle="""
    SELECT label, pos, round(avg(v), 4) + 0.0 AS centroid_v FROM (
      SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ) t GROUP BY label, pos
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (the IVF coarse-quantizer building
    block) as posexplode + one (label, dim)-keyed aggregation. Emitted as
    (label, pos, value) rows rather than re-assembled arrays so the
    oracle hash covers every component. Scale: the shuffle key is
    (label, dim) — cardinality labels x dims, orders of magnitude smaller
    than the input, and map-side combine does most of the summing."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .withColumn("pos", (F.col("pos") + 1).cast("bigint"))  # 1-based like SQL
        .groupBy("label", "pos")
        # + 0.0 canonicalizes IEEE -0.0 to 0.0 (repr-based hash compare)
        .agg((F.round(F.avg("v"), 4) + F.lit(0.0)).alias("centroid_v"))
    )


@register("embedding_semdedup")  # kmeans assignment is engine-specific: rows-only
def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pass over the embeddings table: cluster, prune
    within-cluster near-identical vectors (cosine > 0.99), flag
    survivors. Rows-only by design (k-means is seeded-engine-specific);
    the planted-duplicate pruning guarantee is pinned in
    tests/test_approx_operators.py, and `embedding_semdedup_det` is the
    fully value-oracled twin (pinned centroids, same prune rule)."""
    from hw_kafka_flink_health_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(emb, n_clusters=8, threshold=0.99).select(
        "vec_id", F.col("cluster").cast("long"), "keep"
    )


@register(
    "embedding_semdedup_det",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (
      SELECT vec_id AS cid, e AS ce FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 64
    ), ascore AS (
      SELECT v.vec_id, c.cid,
             list_inner_product(v.e, c.ce) /
               (sqrt(list_inner_product(v.e, v.e)) *
                sqrt(list_inner_product(c.ce, c.ce))) AS csim
      FROM v CROSS JOIN cent c
    ), assigned AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY round(csim, 6) DESC, cid) AS rn
        FROM ascore
      ) WHERE rn = 1
    ), av AS (
      SELECT a.vec_id, a.cid, v.e FROM assigned a JOIN v USING (vec_id)
    ), drops AS (
      SELECT DISTINCT b.vec_id AS dropped
      FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE round(list_inner_product(a.e, b.e) /
                  (sqrt(list_inner_product(a.e, a.e)) *
                   sqrt(list_inner_product(b.e, b.e))), 6) > 0.99
    )
    SELECT av.vec_id, CAST(av.cid AS BIGINT) AS cluster,
           (d.dropped IS NULL) AS keep
    FROM av LEFT JOIN drops d ON d.dropped = av.vec_id
    """,
)
def embedding_semdedup_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup, fully value-oracled
    (`operators/similarity.py:semdedup_det`): clusters come from the
    pinned md5-smallest centroid sample + argmax-cosine assignment (the
    `ivf_det_topk` quantizer), the prune rule is the SAME greedy min-id
    representative as the kmeans tier — dropped iff round(cosine,6) >
    0.99 against any lower-id cluster-mate. DuckDB replays centroids,
    assignment, pair pruning, and the keep flag identically, closing
    the last rows-only member of the LLM-pipeline dedup family. The
    kmeans tier (`embedding_semdedup`) remains the trained-quantizer
    production path."""
    from hw_kafka_flink_health_spark.operators.similarity import semdedup_det

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup_det(emb, n_clusters=64)


@register(
    "embedding_matryoshka_audit",
    oracle="""
    WITH r AS (
      SELECT e.vec_id, t.k AS prefix_dim,
             round(list_aggregate(list_transform(e.embedding[1:t.k]::DOUBLE[], x -> x*x), 'sum')
                   / list_aggregate(list_transform(e.embedding::DOUBLE[], x -> x*x), 'sum'),
                   9) AS ratio
      FROM embeddings e, unnest([8, 16, 32]) AS t(k)
    )
    SELECT CAST(prefix_dim AS BIGINT) AS prefix_dim,
           round(avg(ratio), 6) AS avg_retention,
           round(min(ratio), 6) AS min_retention,
           round(avg(CASE WHEN ratio >= 0.5 THEN 1.0 ELSE 0.0 END), 4) AS frac_half_energy
    FROM r GROUP BY prefix_dim
    """,
)
def embedding_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit (Kusupati et al. 2022 shape): for each
    candidate prefix dimension (8/16/32 of 64), what fraction of every
    vector's squared norm survives truncation. This is the go/no-go check
    before shipping truncated embeddings to a cheaper ANN tier. One corpus
    scan; the per-(row, prefix) energy ratios are higher-order-function
    sums (codegen, no UDF), rounded to 9 decimals before aggregation so
    both engines aggregate identical doubles."""
    emb = load_table(spark, sf_dir, "embeddings")
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq_sum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda a, x: a + x * x
    )
    ex = emb.select(
        "vec_id",
        dv.alias("dv"),
        F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("prefix_dim"),
    )
    r = ex.select(
        F.col("prefix_dim").cast("bigint").alias("prefix_dim"),
        F.round(
            sq_sum(F.slice(F.col("dv"), 1, F.col("prefix_dim").cast("int"))) / sq_sum(F.col("dv")),
            9,
        ).alias("ratio"),
    )
    return r.groupBy("prefix_dim").agg(
        F.round(F.avg("ratio"), 6).alias("avg_retention"),
        F.round(F.min("ratio"), 6).alias("min_retention"),
        F.round(F.avg(F.when(F.col("ratio") >= 0.5, 1.0).otherwise(0.0)), 4).alias(
            "frac_half_energy"
        ),
    )


@register(
    "embedding_decontaminate",
    oracle="""
    WITH q AS (
        SELECT vec_id AS eval_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id >= 480 AND vec_id < 500
    ), corpus AS (
        SELECT e.vec_id,
               CASE WHEN e.vec_id % 40 = 3 THEN list_transform(s.qe, x -> x * 0.5)
                    ELSE e.embedding::DOUBLE[] END AS ce
        FROM embeddings e JOIN q s ON s.eval_id = 480 + e.vec_id % 20
        WHERE e.vec_id < 480 OR e.vec_id >= 500
    ), c AS (
        SELECT corpus.vec_id, q.eval_id,
               list_inner_product(ce, q.qe) /
               (sqrt(list_inner_product(ce, ce)) * sqrt(list_inner_product(q.qe, q.qe))) AS sim
        FROM corpus, q
    )
    SELECT vec_id,
           CAST(count(*) AS BIGINT) AS n_hits,
           round(max(sim), 4) AS max_sim
    FROM c WHERE round(sim, 6) >= 0.95 GROUP BY vec_id
    """,
)
def embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination (the embedding-space sibling of
    the n-gram `text_decontaminate`): flag every training vector whose
    cosine to ANY eval-set vector clears 0.95 — near-duplicates of eval
    items that inflate benchmark scores. The eval set is the FIXED window
    vec_id in [480, 500) — 20 vectors at every SF (an eval benchmark does
    not grow with the corpus); everything else is corpus. The synthetic
    corpus has no real
    eval overlap, so contamination is PLANTED deterministically in both
    engines (every 40th vector becomes a scaled copy of its designated
    eval vector — cosine exactly 1, scale-invariant), proving the flag
    path end to end. Eval set (20 vectors) broadcast twice (plant +
    scoring); the corpus is scanned once and never shuffled — the hit
    aggregation rides map-side partials on vec_id. Threshold applied on
    round(sim, 6) so both engines make identical borderline calls."""
    from hw_kafka_flink_health_spark.operators.similarity import cosine_expr

    emb = load_table(spark, sf_dir, "embeddings")
    dv = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    evalset = emb.filter((F.col("vec_id") >= 480) & (F.col("vec_id") < 500)).select(
        F.col("vec_id").alias("eval_id"), dv(F.col("embedding")).alias("qe")
    )
    plant_src = evalset.select(F.col("eval_id").alias("plant_id"), F.col("qe").alias("plant_vec"))
    corpus = (
        emb.filter((F.col("vec_id") < 480) | (F.col("vec_id") >= 500))
        .join(F.broadcast(plant_src), F.col("plant_id") == 480 + F.col("vec_id") % 20)
        .select(
            "vec_id",
            F.when(
                F.col("vec_id") % 40 == 3,
                F.transform(F.col("plant_vec"), lambda x: x * 0.5),
            )
            .otherwise(dv(F.col("embedding")))
            .alias("ce"),
        )
    )
    pairs = corpus.crossJoin(F.broadcast(evalset)).withColumn(
        "sim", cosine_expr(F.col("ce"), F.col("qe"))
    )
    return (
        pairs.filter(F.round("sim", 6) >= 0.95)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.round(F.max("sim"), 4).alias("max_sim"),
        )
    )


@register(
    "embedding_hard_negatives",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS qlabel, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < 20
    ), c AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, {_COS} AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id AND e.label <> q.qlabel
    ), r AS (
        SELECT query_id, neighbor_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY round(sim, 6) DESC, neighbor_id) AS BIGINT) AS rank
        FROM c
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cosine, rank
    FROM r WHERE rank <= 5
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-negative mining for contrastive training: for each anchor,
    the top-5 most-similar vectors with a DIFFERENT label — the
    negatives that actually move a contrastive loss (random negatives
    are too easy; `mlprep_negative_pairs` is the cheap ring baseline).
    Same broadcast + single-corpus-scan shape as `embedding_cosine_topk`
    with the label-mismatch predicate applied before ranking, so the
    filter prunes candidates ahead of the per-query top-k window."""
    from hw_kafka_flink_health_spark.operators.similarity import cosine_expr

    emb = load_table(spark, sf_dir, "embeddings")
    dv = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        dv(F.col("embedding")).alias("qe"),
    )
    pairs = (
        emb.select("vec_id", "label", dv(F.col("embedding")).alias("ce"))
        .crossJoin(F.broadcast(q))
        .filter((F.col("vec_id") != F.col("query_id")) & (F.col("label") != F.col("qlabel")))
        .withColumn("sim", cosine_expr(F.col("ce"), F.col("qe")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.round("sim", 6).desc(), F.col("vec_id").asc()
    )
    return (
        pairs.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("sim", 4).alias("cosine"),
            F.row_number().over(w).cast("bigint").alias("rank"),
        )
        .filter(F.col("rank") <= 5)
    )


@register(
    "embedding_label_meanpool",
    oracle="""
    WITH flat AS (
      SELECT label, i AS dim, embedding[i]::DOUBLE AS v
      FROM embeddings, unnest(range(1, 65)) AS t(i)
    ), pooled AS (
      SELECT label, dim, avg(v) AS mv FROM flat GROUP BY label, dim
    )
    SELECT CAST(label AS BIGINT) AS label,
           round(sqrt(sum(mv * mv)), 6) AS pooled_norm,
           CAST(count(*) AS BIGINT) AS n_dims
    FROM pooled GROUP BY label
    """,
)
def embedding_label_meanpool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pooled group embedding (the chunk->document pooling step of
    every embedding pipeline), audited by its norm: posexplode to
    (label, dim, value), average per (label, dim) — ONE hash agg with
    map-side partials, the shape that pools billions of chunk vectors —
    then fold the pooled vector's norm. The audit emits scalars (norm,
    dims) rather than the raw vector so the cross-engine hash compares
    rounded numbers, not array renderings."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode(F.transform("embedding", lambda x: x.cast("double")))
    ).withColumnRenamed("pos", "dim").withColumnRenamed("col", "v")
    pooled = flat.groupBy("label", "dim").agg(F.avg("v").alias("mv"))
    return pooled.groupBy(F.col("label").cast("bigint").alias("label")).agg(
        F.round(F.sqrt(F.sum(F.col("mv") * F.col("mv"))), 6).alias("pooled_norm"),
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
    )


@register(
    "embedding_silhouette_points",
    oracle="""
    WITH q AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT)) AS qv
      FROM embeddings
    ), pe AS (
      SELECT vec_id, label, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos
      FROM q
    ), cnt AS (
      SELECT label AS clabel, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1
    ), cent AS (
      SELECT label AS clabel, pos, CAST(sum(v) AS BIGINT) AS s
      FROM pe GROUP BY 1, 2
    ), dist AS (
      SELECT p.vec_id, p.label AS plabel, c.clabel,
             sqrt(CAST(sum((p.v * n.n - c.s) * (p.v * n.n - c.s)) AS DOUBLE)) / n.n
               AS dist
      FROM pe p
      JOIN cent c ON p.pos = c.pos
      JOIN cnt n ON n.clabel = c.clabel
      GROUP BY p.vec_id, p.label, c.clabel, n.n
    ), agg AS (
      SELECT vec_id, plabel AS label,
             min(CASE WHEN clabel = plabel THEN dist END) AS own_dist,
             min(CASE WHEN clabel <> plabel THEN dist END) AS nn_dist
      FROM dist GROUP BY vec_id, plabel
    )
    SELECT vec_id, label,
           round(own_dist, 9) AS own_dist,
           round(nn_dist, 9) AS nn_dist,
           CASE WHEN nn_dist IS NOT NULL AND greatest(own_dist, nn_dist) > 0
                THEN round((nn_dist - own_dist) / greatest(own_dist, nn_dist), 9)
                END AS silhouette
    FROM agg
    """,
)
def embedding_silhouette_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point simplified silhouette over the labeled embedding corpus
    (the centroid-based silhouette used to audit cluster/label quality at
    scale, where the classic all-pairs silhouette is quadratic): a =
    distance to own-label centroid, b = nearest other-label centroid,
    s = (b-a)/max(a,b). Exactness trick: components quantize to
    floor(64x) BIGINTs, so every centroid distance is
    sqrt(sum((x*n - S)^2))/n over EXACT integers (scaled by the label
    count n to avoid the mean's division) — the only float ops are one
    sqrt and one divide on identical operands, bitwise cross-engine
    (beyond ~1e7 vectors the integer squares near int64; production
    would mean-center in double there). Shape: centroids are one
    (label, dim) aggregate (map-side combinable); each point then scores
    against the broadcast L-row centroid table with JVM-side zip_with /
    aggregate lambdas — no shuffle of the point side at all, the exact
    posture an IVF assignment pass uses at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 64).cast("long")
        ).alias("qv"),
    )
    cnt = q.groupBy(F.col("label").alias("clabel")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    cent = (
        q.select("label", F.posexplode("qv").alias("pos", "v"))
        .groupBy(F.col("label").alias("clabel"), "pos")
        .agg(F.sum("v").cast("long").alias("s"))
        .groupBy("clabel")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda t: t["s"]
            ).alias("sv")
        )
        .join(cnt, "clabel")
    )
    dist = q.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        F.col("label").alias("plabel"),
        "clabel",
        (
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        "qv",
                        "sv",
                        lambda x, s: (x * F.col("n") - s) * (x * F.col("n") - s),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ).cast("double")
            )
            / F.col("n")
        ).alias("dist"),
    )
    agg = dist.groupBy("vec_id", F.col("plabel").alias("label")).agg(
        F.min(F.when(F.col("clabel") == F.col("plabel"), F.col("dist"))).alias(
            "own_dist"
        ),
        F.min(F.when(F.col("clabel") != F.col("plabel"), F.col("dist"))).alias(
            "nn_dist"
        ),
    )
    mx = F.greatest(F.col("own_dist"), F.col("nn_dist"))
    return agg.select(
        "vec_id",
        "label",
        F.round("own_dist", 9).alias("own_dist"),
        F.round("nn_dist", 9).alias("nn_dist"),
        F.when(
            F.col("nn_dist").isNotNull() & (mx > 0),
            F.round((F.col("nn_dist") - F.col("own_dist")) / mx, 9),
        ).alias("silhouette"),
    )


@register(
    "embedding_kmeans_step",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT)) AS qv
      FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    ), seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cid, qv AS sv
      FROM q ORDER BY vec_id LIMIT 8
    ), pe AS (
      SELECT vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM q
    ), se AS (
      SELECT cid, unnest(sv) AS s, generate_subscripts(sv, 1) AS pos FROM seeds
    ), d AS (
      SELECT p.vec_id, s.cid,
             CAST(sum((p.v - s.s) * (p.v - s.s)) AS BIGINT) AS d2
      FROM pe p JOIN se s ON p.pos = s.pos
      GROUP BY p.vec_id, s.cid
    ), assign AS (
      SELECT vec_id, min({'d': d2, 'c': cid}).c AS cid
      FROM d GROUP BY vec_id
    )
    SELECT a.cid, p.pos,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(p.v) AS BIGINT) AS s,
           CAST(sum(p.v) AS DOUBLE) / count(*) AS mean_q
    FROM assign a JOIN pe p ON a.vec_id = p.vec_id
    GROUP BY a.cid, p.pos
    """,
)
def embedding_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EXACT Lloyd iteration of k-means (k = 8, seeds = the 8
    lowest-id vectors): assignment distances are squared L2 over the
    floor(64x)-quantized integer vectors — pure BIGINT arithmetic, ties
    broken to the lowest centroid id via the lexicographic min-struct —
    and the update step emits per-(centroid, dim) exact count/sum plus
    the mean (one division). This is the iterative-ML-as-relational-
    algebra demonstrator: the engine-specific seeded KMeans (SemDeDup /
    IVF tiers) stays for speed, but the step itself is value-oracled.
    Shape: the 8-row seed table broadcasts; assignment is a zip_with/
    aggregate over each point with NO point-side shuffle; the update is
    one (cid, dim) hash aggregate — exactly how a distributed k-means
    scales to 100 TB per iteration."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 64).cast("long")
        ).alias("qv"),
    )
    seeds = (
        q.orderBy("vec_id")
        .limit(8)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).cast("long").alias("cid"),
            F.col("qv").alias("sv"),
        )
    )
    d = q.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "qv",
        "cid",
        F.aggregate(
            F.zip_with("qv", "sv", lambda x, s: (x - s) * (x - s)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("d2"),
    )
    assign = d.groupBy("vec_id").agg(
        F.min(F.struct(F.col("d2").alias("d"), F.col("cid").alias("c")))["c"].alias(
            "cid"
        )
    )
    pe = q.select("vec_id", F.posexplode("qv").alias("pos0", "v")).select(
        "vec_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "v"
    )
    return (
        assign.join(pe, "vec_id")
        .groupBy("cid", "pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("s"),
            (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mean_q"),
        )
    )


@register(
    "embedding_power_iteration",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL
    ), pe AS (
      SELECT vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM q
    ), cm AS (
      SELECT a.pos AS d, b.pos AS e, CAST(sum(a.v * b.v) AS BIGINT) AS c
      FROM pe a JOIN pe b ON a.vec_id = b.vec_id
      GROUP BY a.pos, b.pos
    ), v1 AS (
      SELECT d AS e, c AS x FROM cm WHERE e = 1
    ), v2 AS (
      SELECT cm.d, CAST(sum(cm.c * v1.x) AS BIGINT) AS y
      FROM cm JOIN v1 ON cm.e = v1.e
      GROUP BY cm.d
    )
    SELECT v2.d AS pos, v1f.x AS v1, v2.y AS v2
    FROM v2 JOIN (SELECT d AS pos, c AS x FROM cm WHERE e = 1) v1f
      ON v2.d = v1f.pos
    """,
)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two EXACT power-iteration steps toward the top eigenvector of the
    (uncentered) Gram matrix of the quantized embedding corpus: C = X'X
    over floor(64x) integers via one (dim, dim) co-moment aggregate, v1 =
    C e_1 (first column), v2 = C v1 — all BIGINT matrix algebra, so the
    iterate that a distributed PCA/Lanczos pass would compute is
    value-oracled with zero float slack (the normalization step is a
    scalar the caller applies; magnitudes stay < 2^63 through ~1e5
    vectors at 64 dims). Shape: the co-moment is ONE self-join on vec_id
    exploded to (dim, dim) pairs — map-side combinable, output bounded
    at dims^2 = 4096 rows — and both iteration steps run on that tiny
    matrix; at 100 TB only the co-moment pass touches data, exactly how
    tall-skinny distributed PCA works."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 64).cast("long")
        ).alias("qv"),
    )
    pe = q.select("vec_id", F.posexplode("qv").alias("p0", "v")).select(
        "vec_id", (F.col("p0") + 1).cast("bigint").alias("pos"), "v"
    )
    a = pe.select("vec_id", F.col("pos").alias("d"), F.col("v").alias("va"))
    b = pe.select("vec_id", F.col("pos").alias("e"), F.col("v").alias("vb"))
    cm = (
        a.join(b, "vec_id")
        .groupBy("d", "e")
        .agg(F.sum(F.col("va") * F.col("vb")).cast("long").alias("c"))
    )
    cm = cm.localCheckpoint()  # consumed by v1 (twice) and v2
    v1 = cm.filter(F.col("e") == 1).select(F.col("d").alias("e"), F.col("c").alias("x"))
    v2 = (
        cm.join(F.broadcast(v1), "e")
        .groupBy("d")
        .agg(F.sum(F.col("c") * F.col("x")).cast("long").alias("y"))
    )
    v1f = cm.filter(F.col("e") == 1).select(
        F.col("d").alias("pos"), F.col("c").alias("x")
    )
    return v2.join(v1f, v2["d"] == v1f["pos"]).select(
        "pos", F.col("x").alias("v1"), F.col("y").alias("v2")
    )


@register(
    "embedding_mutual_nn",
    oracle=f"""
    WITH pool AS (
        SELECT vec_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < 400
    ), c AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, {_COS} AS sim
        FROM (SELECT vec_id, qe AS embedding FROM pool) e
        CROSS JOIN pool q
        WHERE e.vec_id <> q.vec_id
    ), nn AS (
        SELECT query_id, neighbor_id, sim FROM (
          SELECT query_id, neighbor_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY round(sim, 6) DESC, neighbor_id) AS rk
          FROM c
        ) WHERE rk = 1
    )
    SELECT a.query_id AS id_a, a.neighbor_id AS id_b,
           round(a.sim, 4) AS cosine
    FROM nn a JOIN nn b
      ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
    WHERE a.query_id < a.neighbor_id
    """,
)
def embedding_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best-match pairs: (a, b) where a's nearest neighbor is
    b AND b's nearest neighbor is a — the standard high-precision
    entity-resolution / bitext-mining filter (mutual-NN pruning keeps
    only symmetric evidence, dropping hub vectors that are 'nearest' to
    everything). Composes the existing exact top-k ARROW tier (160k
    pair × 64-dim is ~10M mul-adds, at the measured BLAS crossover —
    one matmul per batch instead of the per-pair expression fold): one
    top-1 pass over the pool, then a self-join of the tiny (id, nn)
    table on the reversed pair — the reciprocity check costs O(N) after
    the O(N·k) search, and swaps in any ANN tier unchanged at 100 TB.
    Pool bounded to the fixed vec_id < 400 slab (SF-invariant, same
    posture as embedding_decontaminate's eval window); ranking uses
    round(sim, 6) + id so NN choice is engine-independent."""
    from hw_kafka_flink_health_spark.operators.similarity import cosine_topk_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    pool = emb.filter(F.col("vec_id") < 400)
    # the reciprocity self-join consumes the NN table twice — without
    # materialization Catalyst re-runs the whole top-1 search per side
    nn = (
        cosine_topk_arrow(pool, pool, k=1)
        .select("query_id", "neighbor_id", "cosine")
        .localCheckpoint()
    )
    a, b = nn.alias("a"), nn.alias("b")
    return (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.neighbor_id"))
            & (F.col("a.neighbor_id") == F.col("b.query_id")),
        )
        .filter(F.col("a.query_id") < F.col("a.neighbor_id"))
        .select(
            F.col("a.query_id").alias("id_a"),
            F.col("a.neighbor_id").alias("id_b"),
            F.round(F.col("a.cosine"), 4).alias("cosine"),
        )
    )


_MMR_ROUNDS = 8
_MMR_POOL = 200


def _mmr_oracle(rounds: int = _MMR_ROUNDS) -> str:
    """Unrolled greedy-MMR twin. Every round is a scalar-table step over
    the PRE-materialized relevance and pairwise-similarity tables, so the
    recursion never touches vectors; AS MATERIALIZED throughout (DuckDB
    inlines multiply-referenced CTEs — the BPE/k-core exponential-blowup
    lesson)."""
    pre = f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT)) AS qv
      FROM embeddings
    ),
    qvec AS MATERIALIZED (SELECT qv FROM q WHERE vec_id = 0),
    cand AS MATERIALIZED (
      SELECT vec_id, qv FROM q WHERE vec_id >= 1 AND vec_id < {_MMR_POOL}
    ),
    relx AS MATERIALIZED (
      SELECT vec_id, CAST(sum(av * bv) AS BIGINT) AS rel
      FROM (SELECT c.vec_id, unnest(c.qv) AS av, unnest(v.qv) AS bv
            FROM cand c, qvec v) t
      GROUP BY vec_id
    ),
    sims AS MATERIALIZED (
      SELECT i, j, CAST(sum(av * bv) AS BIGINT) AS sim
      FROM (SELECT a.vec_id AS i, b.vec_id AS j,
                   unnest(a.qv) AS av, unnest(b.qv) AS bv
            FROM cand a JOIN cand b ON a.vec_id <> b.vec_id) t
      GROUP BY i, j
    ),
    sel0 AS MATERIALIZED (
      SELECT CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS BIGINT) AS rnd,
             CAST(NULL AS BIGINT) AS score
      WHERE 1 = 0
    )"""
    its = []
    for r in range(1, rounds + 1):
        its.append(f"""
    pen{r} AS MATERIALIZED (
      SELECT sims.i AS vec_id, max(sims.sim) AS pen
      FROM sims JOIN sel{r - 1} s ON sims.j = s.vec_id
      GROUP BY sims.i
    ),
    pick{r} AS MATERIALIZED (
      SELECT r.vec_id, CAST({r} AS BIGINT) AS rnd,
             CAST(r.rel - coalesce(p.pen, 0) AS BIGINT) AS score
      FROM relx r LEFT JOIN pen{r} p ON r.vec_id = p.vec_id
      WHERE r.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
      ORDER BY score DESC, r.vec_id
      LIMIT 1
    ),
    sel{r} AS MATERIALIZED (
      SELECT * FROM sel{r - 1} UNION ALL SELECT * FROM pick{r}
    )""")
    return (
        pre
        + ","
        + ",".join(its)
        + f"""
    SELECT vec_id, rnd, score FROM sel{rounds}
    """
    )


@register("embedding_mmr_select", oracle=_mmr_oracle())
def embedding_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein): pick
    8 vectors from a fixed 199-candidate pool that balance relevance to
    the query (vec 0) against redundancy with what is already picked —
    score = rel(i) − max_{s∈S} sim(i, s), i.e. MMR at λ = 0.5 scaled by
    2 so the objective stays an exact integer. This is the diversity-
    aware data-selection step (dedup-aware few-shot pools, eval-set
    curation) that plain top-k similarity cannot express.

    Exactness: floor(64x) quantization makes relevance and every
    pairwise similarity an exact BIGINT dot product, and each greedy
    argmax breaks ties by vec_id — a total order, so all 8 rounds are
    bit-reproducible and the DuckDB twin replays the whole greedy
    trajectory (full value hash, no tolerance). Shape: greedy selection
    is inherently sequential (round r's penalty depends on round r−1's
    pick), and the pool is BOUNDED BY CONSTRUCTION (_MMR_POOL — at
    100 TB an MMR pool is always a pre-filtered ANN shortlist, never the
    corpus), so the right plan is ONE job: the pushed-down pool scan
    feeds one operators/sequential.py:fold whose greedy_mmr body runs the
    8 rounds on int64 exactly (V·q relevance, pen = running max of
    V·v_pick, first-argmax-on-sorted-ids tie-break).
    Chaining 8 Spark jobs for 199 rows was measured 4-7 s of pure
    scheduling/planning overhead; this shape is one Arrow batch. The
    oracle replays the same integers from a pre-materialized pairwise
    sims table."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    pool = emb.filter(F.col("vec_id") < _MMR_POOL).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 64).cast("long")
        ).alias("qv"),
    )
    def mmr(pdf: "pd.DataFrame") -> "pd.DataFrame":
        out_cols = ["vec_id", "rnd", "score"]
        qrows = pdf[pdf["vec_id"] == 0]
        cand = pdf[pdf["vec_id"] >= 1]
        if len(qrows) == 0 or len(cand) == 0:
            return pd.DataFrame(columns=out_cols).astype("int64")
        qv = np.asarray(list(qrows["qv"])[0], dtype=np.int64)
        V = np.stack([np.asarray(v, dtype=np.int64) for v in cand["qv"]])
        picks = greedy_mmr(
            cand["vec_id"].to_numpy(dtype=np.int64), V @ qv, V @ V.T, _MMR_ROUNDS, 1, 1
        )
        return pd.DataFrame(
            [(i, r, s) for r, (i, s, _) in enumerate(picks, 1)], columns=out_cols
        )

    return fold(pool, "vec_id", mmr, "vec_id long, rnd long, score long")


@register(
    "embedding_cosine_topk_auto",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < 20
    ), c AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, {_COS} AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
    ), r AS (
        SELECT query_id, neighbor_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY round(sim, 6) DESC, neighbor_id) AS BIGINT) AS rank
        FROM c
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cosine, rank
    FROM r WHERE rank <= 5
    """,
)
def embedding_cosine_topk_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto-routed exact cosine tier (operators/similarity.py:
    cosine_topk_auto): prices the job as corpus x queries x dims
    multiply-adds against the measured ~10M crossover (PLANS.md) and
    picks the Catalyst fold below it, the Arrow/BLAS tier above. Same
    oracle as both fixed tiers — the router can never change the result,
    only the latency. At sf0.01 (2k x 20 x 64 = 2.6M) it routes to the
    expression tier; at sf0.1 (20k x 20 x 64 = 26M) to arrow — so the
    driver and the bench exercise BOTH routes."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    out = cosine_topk_auto(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


@register(
    "retrieval_ann_recall_at_k",
    oracle=_SRP_CTES
    + """, annr AS (
      SELECT query_id, neighbor_id FROM r WHERE rank <= 3
    ), gq AS (
      SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 20
    ), gc AS (
      SELECT gq.query_id, b.vec_id AS neighbor_id,
             list_inner_product(b.e, gq.qe) /
               (sqrt(list_inner_product(b.e, b.e)) *
                sqrt(list_inner_product(gq.qe, gq.qe))) AS sim
      FROM v b, gq WHERE b.vec_id <> gq.query_id
    ), gr AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(sim, 6) DESC, neighbor_id) AS rk
      FROM gc
    ), gt AS (
      SELECT query_id, neighbor_id FROM gr WHERE rk <= 3
    )
    SELECT gt.query_id,
           CAST(count(*) AS BIGINT) AS n_truth,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           count(a.neighbor_id) / CAST(count(*) AS DOUBLE) AS recall
    FROM gt LEFT JOIN annr a
      ON a.query_id = gt.query_id AND a.neighbor_id = gt.neighbor_id
    GROUP BY gt.query_id
    """,
)
def retrieval_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the deterministic SRP-LSH index against exact cosine
    ground truth, per query — the index-quality acceptance gate every
    ANN deployment runs before swapping the exact tier out, expressed
    INSIDE the engine (both arms are existing value-oracled operators:
    `srp_ann_topk` and `cosine_topk`). One left join of two <=60-row
    rankings; recall is an exact small-integer ratio. At 100 TB the
    ground-truth arm runs over a sampled query panel (exact search over
    the full corpus is the expensive arm — which is the point of
    measuring the ANN's recall before trusting it)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    # ONE corpus count shared by both arms' tier routers (review r11);
    # dims probes on the tiny query side. The exact ground-truth arm
    # flips to the Arrow/BLAS tier past the ~10M mul-add crossover
    # (same values, both tiers share one oracle), and the SRP arm's
    # signature pass tiers the same way.
    n_corpus = emb.count()
    gt = cosine_topk_auto(
        emb, q, k=3, n_corpus=n_corpus, n_queries=20
    ).select("query_id", "neighbor_id")
    ann = srp_ann_topk(
        emb, q, k=3, n_corpus=n_corpus, n_queries=20
    ).select("query_id", F.col("neighbor_id").alias("ann_neighbor"))
    joined = gt.join(
        ann,
        (gt.query_id == ann.query_id)
        & (gt.neighbor_id == ann.ann_neighbor),
        "left",
    ).select(gt.query_id, gt.neighbor_id, "ann_neighbor")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.count("ann_neighbor").cast("long").alias("n_hit"),
        (
            F.count("ann_neighbor") / F.count(F.lit(1)).cast("double")
        ).alias("recall"),
    )


@register(
    "embedding_matryoshka_recall",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 20),
    d AS (SELECT unnest([8, 16, 32, 64]) AS d),
    sims AS (
      SELECT dd.d, q.query_id, v.vec_id AS neighbor_id,
             list_inner_product(v.e[1:dd.d], q.qe[1:dd.d]) /
               (sqrt(list_inner_product(v.e[1:dd.d], v.e[1:dd.d])) *
                sqrt(list_inner_product(q.qe[1:dd.d], q.qe[1:dd.d]))) AS sim
      FROM v, q, d dd WHERE v.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT d, query_id, neighbor_id,
             row_number() OVER (PARTITION BY d, query_id
                                ORDER BY round(sim, 6) DESC, neighbor_id) AS rnk
      FROM sims
    ),
    top AS MATERIALIZED (SELECT * FROM ranked WHERE rnk <= 10)
    SELECT t.d AS dims, CAST(count(*) AS BIGINT) AS n_hits,
           CAST(count(*) AS DOUBLE) / 200.0 AS recall_at_10
    FROM top t JOIN top f
      ON f.d = 64 AND f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
    WHERE t.d <> 64
    GROUP BY t.d
    """,
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/truncated-dimension retrieval fidelity: recall@10 of
    cosine top-10 under 8-, 16-, and 32-dim PREFIXES of the embedding
    vs the full 64-dim ranking, averaged over the 20 standard probe
    queries — the audit run before shipping truncated embeddings to a
    cheaper ANN index (Kusupati et al. 2022's matryoshka property:
    prefix dims carry most of the geometry).

    Scale shape: four exact top-k passes through `cosine_topk_auto`
    (query side broadcast, corpus scanned once per d; the router prices
    corpus x 20 x d and flips to the Arrow/BLAS tier past ~10M mul-adds
    — at sf0.1+ the 64-dim pass routes to BLAS). The union of the four
    10-row-per-query rankings is checkpointed once for its two
    consumers (full-rank reference + truncated arms). recall is an
    exact integer count over 200 = 20 queries x 10 slots, emitted as
    the unrounded integer division (exact dyadic double, identical in
    both engines — no rounding per the r8 exact-rational rule)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_corpus = emb.count()
    tops = []
    for d in (8, 16, 32, 64):
        sl = emb.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
        tops.append(
            cosine_topk_auto(
                sl,
                sl.filter(F.col("vec_id") < 20),
                k=10,
                n_corpus=n_corpus,
                n_queries=20,
                dims=d,
            ).select(
                F.lit(d).cast("long").alias("dims"), "query_id", "neighbor_id"
            )
        )
    top = tops[0]
    for t in tops[1:]:
        top = top.unionByName(t)
    top = top.localCheckpoint()
    full = top.filter(F.col("dims") == 64).select("query_id", "neighbor_id")
    return (
        top.filter(F.col("dims") != 64)
        .join(full, ["query_id", "neighbor_id"])
        .groupBy("dims")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            (F.count(F.lit(1)) / F.lit(200.0)).alias("recall_at_10"),
        )
    )


@register(
    "embedding_knn_label_eval",
    oracle="""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS true_label, e AS qe
          FROM v WHERE vec_id < 100),
    top AS MATERIALIZED (
      SELECT query_id, true_label, neighbor_id, nlabel FROM (
        SELECT q.query_id, q.true_label, v.vec_id AS neighbor_id,
               v.label AS nlabel,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_inner_product(v.e, q.qe) /
                                (sqrt(list_inner_product(v.e, v.e)) *
                                 sqrt(list_inner_product(q.qe, q.qe))), 6) DESC,
                          v.vec_id) AS rnk
        FROM v, q WHERE v.vec_id <> q.query_id)
      WHERE rnk <= 5
    ),
    votes AS (
      SELECT query_id, true_label, nlabel, count(*)::BIGINT AS c
      FROM top GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT query_id, true_label, nlabel AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY c DESC, nlabel) AS r
        FROM votes)
      WHERE r = 1
    )
    SELECT CAST(true_label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_anchors,
           CAST(count(*) FILTER (pred_label = true_label) AS BIGINT) AS n_correct,
           CAST(count(*) FILTER (pred_label = true_label) AS DOUBLE) / count(*)
             AS accuracy
    FROM pred GROUP BY true_label
    """,
)
def embedding_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN label accuracy per class — the standard
    embedding-quality eval (does cosine geometry recover the labels?)
    run before trusting an embedding column for semantic dedup or
    curriculum bucketing. Anchors are the 100 lowest-id vectors
    (fixed-size probe panel, same convention as the 20-query cosine
    panel); each anchor's 5 nearest non-self neighbors vote; ties break
    to the smallest label (row_number over (count DESC, label ASC) —
    a pinned total order in both engines).

    Scale shape: one `cosine_topk_auto` pass (anchors broadcast, corpus
    scanned once; the router flips to the Arrow/BLAS tier past ~10M
    mul-adds — at sf0.1 the 50k x 100 x 64 job routes to BLAS). The
    vote/argmax runs on the 500-row top-k table; accuracy is an exact
    integer division emitted unrounded (r8 exact-rational rule)."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    top = cosine_topk_auto(
        emb,
        emb.filter(F.col("vec_id") < 100),
        k=5,
        n_corpus=emb.count(),
        n_queries=100,
        dims=64,
    ).select("query_id", "neighbor_id")
    nlab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    # broadcast the k*|anchors|-row ranking INTO the corpus-sized label
    # map (not the other way around — the label map grows with the data)
    votes = (
        nlab.join(F.broadcast(top), "neighbor_id")
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("c").desc(), F.col("nlabel"))
    pred = (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("query_id", F.col("nlabel").alias("pred_label"))
    )
    hit = F.count(F.when(F.col("pred_label") == F.col("true_label"), 1))
    return (
        pred.join(F.broadcast(anchors), "query_id")
        .groupBy(F.col("true_label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_anchors"),
            hit.cast("long").alias("n_correct"),
            (hit / F.count(F.lit(1))).alias("accuracy"),
        )
    )
