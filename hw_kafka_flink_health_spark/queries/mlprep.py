"""Training-data prep queries over `documents` (SURVEY §2.C extensions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.mlprep import (
    hash_unit,
    normalize_text_expr,
    stratified_sample,
    train_valid_test_split,
)
from hw_kafka_flink_health_spark.operators.relational import (
    distributed_ntile,
    distributed_row_number,
)
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table


@register(
    "mlprep_hash_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'valid' ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS b
      FROM documents
    ) t
    """,
)
def mlprep_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split — per-document assignment checked
    value-by-value against the engine-portable md5-bucket expression."""
    docs = load_table(spark, sf_dir, "documents")
    return train_valid_test_split(docs, "doc_id").select("doc_id", "split")


@register(
    "mlprep_split_sizes",
    oracle="""
    SELECT split, count(*) AS n, count(DISTINCT lang) AS langs
    FROM (
      SELECT lang,
             CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'valid' ELSE 'test' END AS split
      FROM (
        SELECT lang,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS b
        FROM documents
      ) t
    ) s
    GROUP BY split ORDER BY split
    """,
)
def mlprep_split_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-size audit: every split must see every language (leakage /
    starvation check an ML pipeline runs before training)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        train_valid_test_split(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("lang").cast("bigint").alias("langs"),
        )
        .orderBy("split")
    )


@register(
    "text_normalized",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                ' +', ' ', 'g')) AS norm_text
    FROM documents
    """,
)
def text_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalization (lower/strip/collapse) — the preprocessing
    stage every dedup and fingerprint operator assumes; value-hashed
    against the SQL twin so the two regex dialects provably agree."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", normalize_text_expr("text").alias("norm_text"))


@register(
    "chunk_documents",
    oracle="""
    SELECT doc_id,
           i AS chunk_id,
           substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk_text,
           CAST(length(substr(text, CAST(i * 150 + 1 AS INT), 200)) AS BIGINT)
             AS chunk_len
    FROM documents,
         LATERAL unnest(generate_series(0,
           CAST(greatest(1, ceil((length(text) - 50) / 150.0)) AS BIGINT) - 1))
           AS t(i)
    """,
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 200-char chunks with 50-char overlap
    (stride 150), one row per chunk. Pure Catalyst sequence/posexplode/
    substring — value-hashed against DuckDB generate_series."""
    from hw_kafka_flink_health_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text")


@register(
    "pack_sequences",
    oracle="""
    SELECT doc_id, lang, n_tokens,
           CAST(floor((cum - 1) / 512.0) AS BIGINT) AS pack_id
    FROM (
      SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM (
        SELECT doc_id, lang,
               CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
      ) tok
    ) c
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-fill sequence packing to a 512-token budget, sharded by
    language (per-shard packing = the parallel scale path; a global pack
    would serialize on one sort partition)."""
    from hw_kafka_flink_health_spark.operators.chunking import pack_greedy

    docs = load_table(spark, sf_dir, "documents")
    tokens = F.size(F.split(F.col("text"), " ")).cast("bigint")
    packed = pack_greedy(
        docs, "doc_id", tokens, budget=512, partition_col="lang"
    )
    return packed.select(
        "doc_id", "lang", F.col("_tokens").alias("n_tokens"), "pack_id"
    )


@register(
    "pii_redaction",
    oracle="""
    SELECT doc_id, redacted,
           CAST((length(redacted) - length(replace(redacted, '[PII]', ''))) / 5
                AS BIGINT) AS n_redacted
    FROM (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(
               text || CASE
                 WHEN doc_id % 3 = 0 THEN ' reach me at user'
                      || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                 WHEN doc_id % 3 = 1 THEN ' call 555-867-5309 or ssn 123-45-6789'
                 ELSE '' END,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[PII]', 'g'),
               '\\d{3}[-.]\\d{3}[-.]\\d{4}', '[PII]', 'g'),
               '\\d{3}-\\d{2}-\\d{4}', '[PII]', 'g') AS redacted
      FROM documents
    ) r
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing before corpus export: emails, phone numbers, and
    SSN-shaped strings replaced with a [PII] sentinel. Deterministic
    synthetic PII is injected per doc_id so the redaction paths are
    actually exercised (the corpus itself is lorem text); both engines
    build and scrub identical strings."""
    from hw_kafka_flink_health_spark.operators.chunking import redact_pii_expr

    docs = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" reach me at user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com"),
            ),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit(" call 555-867-5309 or ssn 123-45-6789"))
        .otherwise(F.lit("")),
    )
    redacted = redact_pii_expr(injected)
    return docs.select(
        "doc_id",
        redacted.alias("redacted"),
        (
            (F.length(redacted) - F.length(F.replace(redacted, F.lit("[PII]"), F.lit(""))))
            / 5
        )
        .cast("bigint")
        .alias("n_redacted"),
    )


@register(
    "mlprep_split_drift",
    oracle="""
    WITH c AS (
      SELECT split, lang, CAST(count(*) AS DOUBLE) AS n_sl
      FROM (
        SELECT lang,
               CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'valid'
                    ELSE 'test' END AS split
        FROM (
          SELECT lang,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 10 AS b
          FROM documents
        ) h
      ) s GROUP BY split, lang
    ), w AS (
      SELECT split, lang, n_sl,
             sum(n_sl) OVER (PARTITION BY split) AS n_s,
             sum(n_sl) OVER (PARTITION BY lang) AS n_l,
             sum(n_sl) OVER () AS n
      FROM c
    )
    SELECT split,
           CAST(sum(n_sl) AS BIGINT) AS n_docs,
           round(sum((n_sl / n_s) * ln((n_sl / n_s) / (n_l / n))), 6) AS kl_vs_corpus
    FROM w GROUP BY split
    """,
)
def mlprep_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit: KL divergence of each split's language
    mix against the whole corpus — the leakage/skew check run before
    training (a hash split should show KL near 0). One scan, one
    (split, lang) shuffle; the window sums run on the tiny aggregate."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    c = (
        train_valid_test_split(docs, "doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).cast("double").alias("n_sl"))
    )
    n_s = F.sum("n_sl").over(Window.partitionBy("split"))
    n_l = F.sum("n_sl").over(Window.partitionBy("lang"))
    n = F.sum("n_sl").over(Window.partitionBy())
    w = c.select(
        "split",
        "n_sl",
        (F.col("n_sl") / n_s).alias("p"),
        ((n_l / n)).alias("q"),
    )
    return w.groupBy("split").agg(
        F.sum("n_sl").cast("bigint").alias("n_docs"),
        F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6).alias(
            "kl_vs_corpus"
        ),
    )


@register(
    "mlprep_stratified_sample",
    oracle="""
    SELECT doc_id, lang, source
    FROM (
      SELECT doc_id, lang, source,
             CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'strat')),
                  1, 8)) AS BIGINT) / 4294967296.0 AS u
      FROM documents
    ) t
    WHERE u < CASE WHEN lang = 'en' THEN 0.25 ELSE 0.9 END
    """,
)
def mlprep_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing sample: downsample the dominant language (en
    to 25%), keep the rest at 90%. Hash-threshold Bernoulli per stratum —
    membership is a pure function of doc_id, so the EXACT kept set is
    value-hashed against the DuckDB twin (was `sampleBy` rows-only until
    round 3); strata outside the dict fall back to the default rate, so
    no driver-side strata enumeration happens."""
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", {"en": 0.25}, id_col="doc_id", default=0.9
    ).select("doc_id", "lang", "source")


@register(
    "mlprep_domain_mix",
    oracle="""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source
    ), r AS (
      SELECT source, n,
             least(1.0, 0.5 * sum(n) OVER () / count(*) OVER () / n) AS keep_rate
      FROM c
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN r USING (source)
    WHERE CAST(concat('0x', substr(md5(concat(CAST(d.doc_id AS VARCHAR), 'mix')), 1, 8))
               AS BIGINT) / 4294967296.0 < r.keep_rate
    """,
)
def mlprep_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: downsample over-represented sources so
    the output targets an EQUAL token share per source at half the corpus
    size (budget = 0.5 * total / n_sources per source, capped at
    availability). The per-source keep rates are window functions over the
    20-row source-count aggregate — no driver collect — broadcast back
    onto the corpus, and membership is the portable md5 unit draw, so the
    sample is deterministic and exactly reproducible in any engine. This
    is the mixture-rebalancing pass an LLM pipeline runs after dedup to
    hit a target domain composition."""
    from pyspark.sql import Window

    from hw_kafka_flink_health_spark.operators.mlprep import hash_unit

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy()
    rates = counts.select(
        "source",
        F.least(
            F.lit(1.0),
            F.lit(0.5)
            * F.sum("n").over(w)
            / F.count(F.lit(1)).over(w)
            / F.col("n"),
        ).alias("keep_rate"),
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(hash_unit("doc_id", "mix") < F.col("keep_rate"))
        .select("doc_id", "source")
    )


@register(
    "mlprep_split_leakage",
    oracle="""
    WITH s AS (
      SELECT doc_id, text,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 10 < 8 THEN 'train'
                  WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 10 < 9 THEN 'valid' ELSE 'test' END AS split
      FROM documents
    ), toks AS (
      SELECT doc_id, split,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM s
    ), g AS (
      SELECT DISTINCT doc_id, split, array_to_string(t[u.i : u.i + 4], ' ') AS gram
      FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)
    )
    SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_leaked_grams
    FROM (SELECT doc_id, gram FROM g WHERE split = 'test') e
    JOIN (SELECT DISTINCT gram FROM g WHERE split = 'train') tr USING (gram)
    GROUP BY e.doc_id
    """,
)
def mlprep_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: which TEST-split documents share a 5-gram
    with the TRAIN split — the held-out-set integrity check run after
    every re-split (same machinery as benchmark decontamination, aimed
    at the pipeline's own splits; with synthetic same-distribution text
    the expected answer is 'lots', and the audit quantifies it). Train
    gram set broadcasts; test docs shuffle once for the count."""
    from hw_kafka_flink_health_spark.operators.dedup import decontaminate_hits

    docs = load_table(spark, sf_dir, "documents")
    split = train_valid_test_split(docs, "doc_id")
    hits = decontaminate_hits(
        split.filter(F.col("split") == "test"),
        split.filter(F.col("split") == "train"),
        n=5,
    )
    return hits.select(
        "doc_id", F.col("n_hit_grams").cast("long").alias("n_leaked_grams")
    )


@register(
    "mlprep_negative_pairs",
    oracle="""
    WITH r AS (
      SELECT doc_id, source,
             md5(CAST(doc_id AS VARCHAR)) AS ring
      FROM documents
    ), w AS (
      SELECT doc_id, source, ring,
             lead(doc_id, 1) OVER (ORDER BY ring, doc_id) AS neg1,
             lead(doc_id, 2) OVER (ORDER BY ring, doc_id) AS neg2,
             first_value(doc_id) OVER (ORDER BY ring, doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND UNBOUNDED FOLLOWING) AS wrap1
      FROM r
    )
    SELECT doc_id, source,
           coalesce(neg1, wrap1) AS neg1,
           coalesce(neg2, wrap1) AS neg2
    FROM w
    """,
)
def mlprep_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: order
    docs on an md5 ring (content-independent, so neighbors are random
    yet reproducible) and pair each doc with the next two ring
    neighbors, wrapping at the end. No RNG — which is what makes the
    sample auditable and re-creatable at 100 TB.

    Scale shape (VERDICT r10 #2 — replaces the single-partition global
    lead window): :func:`distributed_row_number` ranks the ring (range
    shuffle + partition-local window + bounded offsets broadcast, total
    N free from the offsets pass), then the two successors resolve via
    equi-joins on the rank — lead(k) of row rn is row rn+k when it
    exists, else row 1 (exactly the oracle's ``coalesce(lead, first)``
    wrap). Both joins shuffle on a dense BIGINT key — skew-free by
    construction, no SinglePartition exchange anywhere."""
    from hw_kafka_flink_health_spark.operators.relational import (
        distributed_row_number,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("ring")
    )
    ranked = distributed_row_number(
        docs, ["ring", "doc_id"], out_col="rn", total_col="nn"
    )
    idx = ranked.select(F.col("rn").alias("_at"), F.col("doc_id").alias("_nd"))
    lead_k = lambda k: F.when(  # noqa: E731
        F.col("rn") + k <= F.col("nn"), F.col("rn") + k
    ).otherwise(F.lit(1).cast("long"))
    base = ranked.select(
        "doc_id", "source", lead_k(1).alias("_i1"), lead_k(2).alias("_i2")
    )
    n1 = idx.withColumnRenamed("_nd", "neg1")
    n2 = idx.withColumnRenamed("_nd", "neg2").withColumnRenamed("_at", "_at2")
    return (
        base.join(n1, base._i1 == n1._at)
        .join(n2, base._i2 == n2._at2)
        .select("doc_id", "source", "neg1", "neg2")
    )


@register(
    "mlprep_length_buckets",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS n_toks
      FROM documents
    ), b AS (
      SELECT doc_id, n_toks,
             CAST(ceil(n_toks / 64.0) AS BIGINT) AS bucket
      FROM t
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS real_tokens,
           CAST(max(n_toks) * count(*) AS BIGINT) AS padded_tokens,
           round(1.0 - sum(n_toks)::DOUBLE / (max(n_toks) * count(*)), 4)
             AS padding_waste
    FROM b GROUP BY bucket
    """,
)
def mlprep_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing economics: bucket docs by 64-token
    bands and report real vs padded token volume per bucket — the
    number that decides between plain batching (pad to max), length
    bucketing (this), and sequence packing (pack_sequences elsewhere in
    the catalog). One agg; the waste column is the training-FLOPs tax
    padding would cost."""
    from hw_kafka_flink_health_spark.operators.dedup import norm_tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(norm_tokens_expr("text"))
    b = docs.select(
        n_toks.alias("n_toks"),
        F.ceil(n_toks / F.lit(64.0)).cast("long").alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("real_tokens"),
        (F.max("n_toks") * F.count(F.lit(1))).cast("long").alias("padded_tokens"),
        F.round(
            F.lit(1.0)
            - F.sum("n_toks").cast("double")
            / (F.max("n_toks") * F.count(F.lit(1))),
            4,
        ).alias("padding_waste"),
    )


@register(
    "mlprep_token_apportionment",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(sum(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')))
                  AS BIGINT) AS toks
      FROM documents GROUP BY source
    ), q AS (
      SELECT source, toks,
             sum(toks) OVER () AS total,
             (100000 * toks) // sum(toks) OVER () AS quota,
             (100000 * toks) % sum(toks) OVER () AS rem
      FROM s
    ), r AS (
      SELECT source, toks, quota,
             row_number() OVER (ORDER BY rem DESC, source) AS rk,
             100000 - sum(quota) OVER () AS leftover
      FROM q
    )
    SELECT source, CAST(toks AS BIGINT) AS toks,
           CAST(quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS token_budget
    FROM r
    """,
)
def mlprep_token_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget apportionment: divide a 100k-token training budget
    across sources proportionally with largest-remainder rounding, so
    the integer quotas sum EXACTLY to the budget (floor everything, then
    hand the leftover units to the largest remainders, ties broken by
    source name). Pure integer arithmetic end to end — bit-identical in
    any engine — and the planning companion to mlprep_domain_mix: mix
    decides membership, this decides exact per-source token draws. All
    windows run over the 20-row source aggregate."""
    from hw_kafka_flink_health_spark.operators.dedup import norm_tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.size(norm_tokens_expr("text"))).cast("long").alias("toks")
    )
    w = Window.partitionBy()
    budget = F.lit(100000)
    total = F.sum("toks").over(w)
    # rem is exact long arithmetic; quota = (b*t - rem)/total divides
    # EXACTLY, and IEEE division of exactly-representable ints returns the
    # integer quotient bit-exactly below 2^53 — no floor(double) 1-ulp
    # hazard at exact multiples
    rem = (budget * F.col("toks")) % total
    q = s.select(
        "source",
        "toks",
        ((budget * F.col("toks") - rem) / total).cast("long").alias("quota"),
        rem.alias("rem"),
    )
    r = q.select(
        "source",
        "toks",
        "quota",
        F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("source"))).alias("rk"),
        (budget - F.sum("quota").over(w)).alias("leftover"),
    )
    return r.select(
        "source",
        "toks",
        (F.col("quota") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
        .cast("long")
        .alias("token_budget"),
    )


@register(
    "mlprep_shuffle_shards",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'shuffle')), 1, 8))
                  AS BIGINT) / 4294967296.0 AS draw
      FROM documents
    ), s AS (
      SELECT doc_id, draw,
             least(CAST(floor(draw * 8) AS BIGINT), 7) AS shard
      FROM d
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY draw, doc_id) - 1
                AS BIGINT) AS pos,
           round(draw, 8) AS draw
    FROM s
    """,
)
def mlprep_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle cut into 8 training shards:
    the portable md5 unit draw defines the permutation, fixed uniform
    cut points on the draw define the shards (no sampled range
    partitioner), and pos is the write order inside each shard file.
    Every (doc_id, shard, pos) triple is a pure function of the corpus —
    the oracle replays the identical permutation in DuckDB."""
    from hw_kafka_flink_health_spark.operators.mlprep import shuffle_shards

    docs = load_table(spark, sf_dir, "documents")
    out = shuffle_shards(docs, "doc_id", n_shards=8)
    return out.select("doc_id", "shard", "pos", F.round("draw", 8).alias("draw"))


@register(
    "mlprep_feature_hashing",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(concat(w, 'feat')), 1, 8)) AS BIGINT) % 1024 AS bucket,
             CASE WHEN CAST(concat('0x', substr(md5(concat(w, 'feat')), 9, 1)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM tok
    )
    SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS weight
    FROM h GROUP BY doc_id, bucket
    HAVING sum(sgn) <> 0
    """,
)
def mlprep_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick text vectorization (Weinberger et al. 2009): each
    token hashes to one of 1024 buckets with a +/-1 sign from a second
    hash bit (keeps the inner-product estimate unbiased); per-doc bucket
    weights are the signed counts. The whole vocabulary-free featurizer
    is two md5 expressions + one partial-aggregated groupBy — no fitted
    dictionary to broadcast, which is the point at 100 TB. Zero-weight
    collisions (a +1 and a -1 in the same bucket) are dropped in both
    engines."""
    from hw_kafka_flink_health_spark.operators.mlprep import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    sgn_hex = F.substring(F.md5(F.concat(F.col("w"), F.lit("feat"))), 9, 1)
    sgn = F.when(F.conv(sgn_hex, 16, 10).cast("bigint") % 2 == 0, 1).otherwise(-1)
    h = tok.select(
        "doc_id",
        hash_bucket("w", 1024, salt="feat").alias("bucket"),
        sgn.alias("sgn"),
    )
    return (
        h.groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").cast("bigint").alias("weight"))
        .filter(F.col("weight") != 0)
    )


@register(
    "mlprep_source_cap",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(concat(CAST(doc_id AS VARCHAR), 'cap')), doc_id
             ) AS rk
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS kept,
           CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
    FROM ranked WHERE rk <= 15 GROUP BY source
    """,
)
def mlprep_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the over-represented-domain guard a
    corpus mix applies (no single crawl source may exceed N docs): keep
    each source's first 15 documents in deterministic md5 order, a
    seedless uniform draw reproducible in any engine. One window per
    source; the rank order is a pure function of (doc_id, salt), so
    reruns and backfills keep the identical cap set (contrast
    mlprep_domain_mix, which rebalances by RATE rather than hard count).
    Output is the per-source audit (kept count + id checksum)."""
    docs = load_table(spark, sf_dir, "documents")
    order_key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("cap")))
    w = Window.partitionBy("source").orderBy(order_key, F.col("doc_id"))
    ranked = docs.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 15)
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept"),
        F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
    )


@register(
    "mlprep_stratified_exact",
    oracle="""
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(concat(CAST(doc_id AS VARCHAR), 'sx1')), doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 20
    """,
)
def mlprep_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-size stratified sample: precisely 20 docs per source (not
    the binomial ~rate of `sampleBy`), membership decided by ranking a
    portable md5 draw within each stratum — deterministic forever, no
    sampling variance, retry-safe. One exchange on the stratum; at scale
    the rank window is per-stratum parallel. The rate-based sibling
    (`mlprep_stratified_sample`) remains the cheaper one-pass screen;
    this is the one you use when split sizes are contractual."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("sx1"))), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "source", "rn")
    )


@register(
    "pipeline_rag_index",
    oracle="""
    WITH qual AS (
      SELECT doc_id, text FROM documents
      WHERE len(string_split(text, ' ')) >= 5
        AND len(list_distinct(string_split(text, ' ')))::DOUBLE
            / len(string_split(text, ' ')) > 0.3
    ), chunks AS (
      SELECT doc_id, i AS chunk_id,
             substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk_text
      FROM qual,
           LATERAL unnest(generate_series(0,
             CAST(greatest(1, ceil((length(text) - 50) / 150.0)) AS BIGINT) - 1))
             AS t(i)
    )
    SELECT c.doc_id, c.chunk_id,
           CAST(e.label AS BIGINT) AS cluster,
           CAST(length(c.chunk_text) AS BIGINT) AS chunk_len,
           md5(c.chunk_text) AS chunk_fp
    FROM chunks c JOIN embeddings e ON e.vec_id = c.doc_id
    """,
)
def pipeline_rag_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval-index BUILD pipeline as one DAG: quality-screen the
    corpus, chunk into overlapping context windows, attach each chunk to
    its document's coarse index list (the embedding's cluster label —
    the IVF inverted-list id), and fingerprint the chunk text for
    dedup-aware upserts. This is the sibling of
    `pipeline_pretrain_corpus` for the retrieval side: every stage is an
    oracled operator elsewhere; the value hash here pins the COMPOSITION.
    Shuffle audit: chunking is narrow (sequence/posexplode — zero
    exchanges), the embedding join is the only shuffle and partitions on
    doc id; at scale the output writes `partitionBy(cluster)` so probes
    open only probed lists (see the IVF-as-partitioned-table row)."""
    from hw_kafka_flink_health_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    toks = F.split(F.col("text"), " ")
    qual = docs.filter(
        (F.size(toks) >= 5)
        & (F.size(F.array_distinct(toks)).cast("double") / F.size(toks) > 0.3)
    )
    chunks = chunk_documents(qual, "doc_id", "text")
    return chunks.join(emb, chunks.doc_id == emb.vec_id).select(
        "doc_id",
        "chunk_id",
        F.col("label").cast("long").alias("cluster"),
        F.length("chunk_text").cast("long").alias("chunk_len"),
        F.md5("chunk_text").alias("chunk_fp"),
    )


@register(
    "mlprep_class_balance_weights",
    oracle="""
    WITH lab AS (
      SELECT label, count(*)::BIGINT AS n_label
      FROM embeddings WHERE label IS NOT NULL GROUP BY label
    ), tot AS (
      SELECT sum(n_label)::BIGINT AS n_total, count(*)::BIGINT AS n_classes
      FROM lab
    )
    SELECT label, n_label,
           CAST(floor(CAST(n_total AS DOUBLE) / (n_classes * n_label)
                      * 1000000 + 0.5) AS BIGINT) AS weight_micro
    FROM lab CROSS JOIN tot
    """,
)
def mlprep_class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency class weights (sklearn's 'balanced' heuristic:
    n_total / (n_classes * n_label)) — the per-label sampling/loss weight
    every imbalanced-label training run computes first. One map-side
    combined aggregate to label counts; the totals are a broadcast 1-row
    join over the tiny label table; the weight is a single double
    division emitted in integer micro-units (floor(x*1e6+0.5), immune to
    engine round() half-rule divergence). NULL labels get no weight row
    — they carry no class signal."""
    emb = load_table(spark, sf_dir, "embeddings")
    lab = (
        emb.filter(F.col("label").isNotNull())
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_label"))
    )
    tot = lab.agg(
        F.sum("n_label").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
    )
    w = (
        F.col("n_total").cast("double")
        / (F.col("n_classes") * F.col("n_label"))
    )
    return lab.crossJoin(F.broadcast(tot)).select(
        "label",
        "n_label",
        F.floor(w * 1000000 + 0.5).cast("long").alias("weight_micro"),
    )


@register(
    "mlprep_target_encoding_kfold",
    oracle="""
    WITH folds AS (
      SELECT o_orderpriority AS cat, o_totalprice AS y,
             CAST(floor(CAST(concat('0x', substr(md5(concat(
                    CAST(o_orderkey AS VARCHAR), 'te-fold')), 1, 8)) AS BIGINT)
                  / 4294967296.0 * 5) AS BIGINT) AS fold
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    per_cell AS (
      SELECT cat, fold, count(*)::BIGINT AS n, sum(y) AS s
      FROM folds GROUP BY 1, 2
    ),
    per_cat AS (
      SELECT cat, fold, n, s,
             sum(n) OVER (PARTITION BY cat) AS cat_n,
             sum(s) OVER (PARTITION BY cat) AS cat_s
      FROM per_cell
    )
    SELECT cat, fold, n AS n_in_fold,
           round((cat_s - s) / nullif(CAST(cat_n - n AS DOUBLE), 0), 4)
             AS encoding,
           round(cat_s / CAST(cat_n AS DOUBLE), 4) AS leaky_encoding
    FROM per_cat
    """,
)
def mlprep_target_encoding_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe K-fold target encoding of order priority against
    order value: the encoding a fold's rows receive is the category mean
    computed from the OTHER four folds — (Σcat − Σfold)/(ncat − nfold) —
    which is the out-of-fold estimate CatBoost-style pipelines use so a
    row never sees its own target. The leaky all-data mean is emitted
    alongside for comparison (the thing this op exists to avoid).

    Scale shape: folds are a deterministic md5-unit draw (replayable in
    the oracle), the heavy pass is ONE hash aggregate to (category,
    fold) cells — k·|categories| rows — and the leave-one-fold-out
    algebra is windows over that tiny table. No per-fold rescan, no
    join back to rows; applying the encoding downstream is a broadcast
    join of this output."""
    orders = load_table(spark, sf_dir, "orders")
    fold = F.floor(hash_unit(F.col("o_orderkey"), "te-fold") * 5).cast("long")
    folds = orders.filter(F.col("o_totalprice").isNotNull()).select(
        F.col("o_orderpriority").alias("cat"),
        F.col("o_totalprice").alias("y"),
        fold.alias("fold"),
    )
    per_cell = folds.groupBy("cat", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("y").alias("s")
    )
    wcat = Window.partitionBy("cat")
    per_cat = per_cell.select(
        "cat",
        "fold",
        "n",
        "s",
        F.sum("n").over(wcat).alias("cat_n"),
        F.sum("s").over(wcat).alias("cat_s"),
    )
    return per_cat.select(
        "cat",
        "fold",
        F.col("n").alias("n_in_fold"),
        F.round(
            F.try_divide(
                F.col("cat_s") - F.col("s"),
                (F.col("cat_n") - F.col("n")).cast("double"),
            ),
            4,
        ).alias("encoding"),
        F.round(F.col("cat_s") / F.col("cat_n").cast("double"), 4).alias(
            "leaky_encoding"
        ),
    )


@register(
    "mlprep_quantile_normalize",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
      FROM documents WHERE n_chars IS NOT NULL
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pool FROM d
    ), r AS (
      SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars, doc_id) AS BIGINT) AS rk,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS m
      FROM d
    ), idxed AS (
      SELECT doc_id, source, n_chars,
             (rk * n_pool + m - 1) // m AS idx
      FROM r, tot
    ), pool AS (
      SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY n_chars
    ), cums AS (
      SELECT v, cnt,
             CAST(sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM pool
    )
    SELECT i.doc_id, i.source, i.n_chars, c.v AS qnorm_chars
    FROM idxed i JOIN cums c
      ON i.idx > c.cum - c.cnt AND i.idx <= c.cum
    """,
)
def mlprep_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of the per-source document-length
    distributions onto the pooled corpus distribution (the microarray /
    batch-effect-removal classic, used in data pipelines to equalize
    per-source length or score distributions before mixing): each doc's
    within-source rank fraction rk/m maps to the ceil(rk*N/m)-th smallest
    pooled value. All arithmetic is BIGINT (ceil via (a+b-1)//b), so the
    mapping is exact; the idx->value lookup goes through the DISTINCT-
    value cumulative table (one row per distinct length), joined on the
    half-open count interval. Shape: one per-source rank pass (shuffle on
    source), one distinct-value aggregate, and an interval join against
    the compact cums side, which Spark broadcasts — at 100 TB the cums
    table is |distinct values| rows, and the per-source window would move
    to the two-level distinct-value rank idiom (rk*N <= ~1e18 bounds N at
    ~1e9 per int64; beyond that the idx math goes DECIMAL)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"))
    )
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n_pool"))
    wsrc = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    r = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(wsrc).cast("long").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).cast("long").alias("m"),
    )
    idxed = r.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "source",
        "n_chars",
        F.expr("(rk * n_pool + m - 1) DIV m").alias("idx"),
    )
    pool = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cums = pool.select(
        "v", "cnt", F.sum("cnt").over(wv).cast("long").alias("cum")
    )
    return idxed.join(
        F.broadcast(cums),
        (F.col("idx") > F.col("cum") - F.col("cnt")) & (F.col("idx") <= F.col("cum")),
    ).select("doc_id", "source", "n_chars", F.col("v").alias("qnorm_chars"))


@register(
    "mlprep_temperature_mixture",
    oracle="""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
    ), w AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(n_docs * sqrt(CAST(n_docs AS DOUBLE))) * 1000000.0)
                  AS BIGINT) AS m
      FROM c
    ), tot AS (
      SELECT CAST(sum(m) AS BIGINT) AS tot FROM w
    )
    SELECT source, n_docs,
           CAST(m AS DOUBLE) / tot AS weight,
           (10000 * m) // tot AS docs_per_10k
    FROM w, tot
    """,
)
def mlprep_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing weights (the multilingual /
    multi-source sampling recipe: p_s proportional to c_s^alpha with
    alpha = 3/4, which up-weights small sources relative to proportional
    sampling without letting giants dominate). Exactness: 3/4 power is
    computed as sqrt(n * sqrt(n)) — two correctly-rounded IEEE sqrts, no
    libm pow — then floor-scaled to integer millionths so the total and
    both shares are exact-integer arithmetic with one final division.
    Shape: one count aggregate, a 1-row broadcast total, linear at any
    scale."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    w = c.select(
        "source",
        "n_docs",
        F.floor(
            F.sqrt(F.col("n_docs") * F.sqrt(F.col("n_docs").cast("double")))
            * 1000000.0
        )
        .cast("long")
        .alias("m"),
    )
    tot = w.agg(F.sum("m").cast("long").alias("tot"))
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        (F.col("m").cast("double") / F.col("tot")).alias("weight"),
        F.expr("(10000 * m) DIV tot").alias("docs_per_10k"),
    )


@register(
    "mlprep_dedup_aware_split",
    oracle="""
    WITH RECURSIVE t AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), e AS (
        SELECT doc_id, unnest(sh) AS shingle, len(sh) AS n FROM t
    ), p AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               count(*) AS common, any_value(a.n) AS n1, any_value(b.n) AS n2
        FROM e a JOIN e b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)) >= 0.2
    ), edges AS (
        SELECT doc1 AS u, doc2 AS v FROM p
        UNION SELECT doc2, doc1 FROM p
    ), reach AS (
        SELECT u AS node, u AS r FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u AS node, reach.r FROM edges e JOIN reach ON reach.node = e.v
    ), cl AS (
        SELECT node, CAST(min(r) AS BIGINT) AS rep FROM reach GROUP BY node
    ), assigned AS (
        SELECT d.doc_id, CAST(coalesce(cl.rep, d.doc_id) AS BIGINT) AS rep
        FROM documents d LEFT JOIN cl ON d.doc_id = cl.node
    )
    SELECT doc_id, rep,
           CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'valid' ELSE 'test' END
             AS split
    FROM (
      SELECT doc_id, rep,
             CAST(concat('0x', substr(md5(CAST(rep AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10 AS b
      FROM assigned
    ) s
    """,
)
def mlprep_dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split: every near-duplicate CLUSTER
    moves as a unit (the split key is the cluster's canonical min-id
    representative, singletons key on themselves), so no near-dup pair
    can straddle train and eval — the contamination mode a plain
    per-document hash split cannot prevent. Composes the >= 0.2 Jaccard
    connected components (min-label propagation, the oracle replays the
    declarative recursive fixpoint) with the md5-bucket 80/10/10 idiom
    ON THE REPRESENTATIVE. Shape: the pair pipeline dominates (banded,
    never all-pairs); the split itself is one broadcast-able cluster-map
    join plus stateless hashing."""
    from hw_kafka_flink_health_spark.operators.dedup import connected_components
    from hw_kafka_flink_health_spark.queries.text import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.2)
    cl = connected_components(pairs).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("rep"),
    )
    assigned = docs.select("doc_id").join(cl, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("rep"), F.col("doc_id")).cast("long").alias("rep")
    )
    b = (
        F.conv(F.substring(F.md5(F.col("rep").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 10
    )
    return assigned.select(
        "doc_id",
        "rep",
        F.when(b < 8, "train").when(b < 9, "valid").otherwise("test").alias("split"),
    )


@register(
    "mlprep_curriculum_phases",
    oracle="""
    WITH d AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text) - length(replace(text, ' ', '')) + 1
                  AS BIGINT) AS est_tokens
      FROM documents WHERE text IS NOT NULL
    ), ranked AS (
      SELECT doc_id, n_chars, est_tokens,
             ntile(4) OVER (ORDER BY n_chars, doc_id) AS phase
      FROM d
    )
    SELECT CAST(phase AS BIGINT) AS phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(est_tokens) AS BIGINT) AS total_tokens,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM ranked GROUP BY phase
    """,
)
def mlprep_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment: order documents by an
    easy-to-hard difficulty proxy (length in chars, doc_id tiebreak for
    a total order) and cut into four equal phases with ntile — the
    schedule a curriculum trainer feeds batches from, reported as per-
    phase token/char budgets.

    The ntile runs over doc METADATA (doc_id + two ints, never the
    text) on `distributed_ntile` (operators/relational.py): one range
    shuffle + per-partition rank + a bounded offset broadcast, so the
    sort IS range-partitioned — a bare `ntile().over(Window.orderBy)`
    would instead plan `Exchange SinglePartition` and funnel every doc's
    metadata row through one task. Everything emitted is an exact
    integer."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # difficulty derives from text itself (never the nullable n_chars
    # column: Spark orders NULLS FIRST, DuckDB NULLS LAST — the nulls
    # fuzz scenario flips ntile assignments through that default)
    d = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), " ", ""))
            + 1
        )
        .cast("long")
        .alias("est_tokens"),
    )
    ranked = distributed_ntile(
        d, 4, ["n_chars", "doc_id"], out_col="phase"
    )
    return ranked.groupBy(F.col("phase").cast("long").alias("phase")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("est_tokens").cast("long").alias("total_tokens"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@register(
    "mlprep_global_doc_ids",
    oracle="""
    SELECT doc_id,
           coalesce(source, '') AS source,
           CAST(row_number() OVER (ORDER BY coalesce(source, ''), doc_id)
                AS BIGINT) AS global_id,
           CAST(count(*) OVER () AS BIGINT) AS n_total
    FROM documents WHERE doc_id IS NOT NULL
    """,
)
def mlprep_global_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global training ids, assigned in (source, doc_id)
    order — the deterministic id-assignment step a corpus gets before
    sharding/packing, where every consumer (shard manifests, skip-lists,
    resume offsets) needs ids to be dense and stable. Runs on
    `distributed_row_number` (operators/relational.py): one range
    shuffle + per-partition rank + a bounded offset broadcast, with the
    corpus total attached from the SAME offsets pass (`n_total`) — the
    oracle's `row_number() OVER (ORDER BY ...)` and `count(*) OVER ()`
    are each an `Exchange SinglePartition` in a naive Spark plan; here
    neither exists. NULL sources sort as '' on both engines (nullable
    window sort keys are banned by the registry convention)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    d = docs.select(
        "doc_id", F.coalesce(F.col("source"), F.lit("")).alias("source")
    )
    return distributed_row_number(
        d, ["source", "doc_id"], out_col="global_id", total_col="n_total"
    ).select("doc_id", "source", "global_id", "n_total")
