"""Deduplication operators for large-scale training-data pipelines.

All batch-twin-friendly; the streaming analog of exact dedup is
``dropDuplicatesWithinWatermark`` (wired in streaming/health_pipeline users).

Scale design notes:
* Exact dedup = hash-groupBy on a content fingerprint — one shuffle on the
  hash, map-side partial aggregation; never a sort.
* N-gram Jaccard = explode shingles -> self-equi-join on shingle ->
  count-common -> filter. The join key is the shingle, so frequency skew is
  the scale hazard: a shingle seen in f docs contributes f^2 pairs.
* MinHash LSH uses pyspark.ml's MinHashLSH (banding via approxSimilarityJoin)
  — the sub-quadratic path for 100 TB corpora.
* SimHash: per-token xxhash64 (JVM-side), per-bit sign sums, recombined to a
  63-bit fingerprint (bit 63 is skipped so the result stays a positive
  signed long).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.cache import LRU, frame_key

# Session caches (the keying and staleness argument is in cache.py): five
# registered queries build the identical jaccard-pairs pipeline
# (dedup_ngram_jaccard, dedup_clusters, dedup_cluster_report,
# mlprep_dedup_aware_split, graph_triangle_neardup), and three of them
# then run the identical label-propagation fixpoint on it.
_PAIRS = LRU(4)
_CLUSTERS = LRU(2)


def fingerprint_expr(text: Column | str) -> Column:
    """Normalization fingerprint: md5 of lower/whitespace-collapsed text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup groups: fingerprint -> canonical (min) id + copy count."""
    return (
        df.groupBy(fingerprint_expr(text_col).alias("fp"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token array (1-indexed).

    PERF: built by folding ``zip_with(acc, slice(tokens, k, ...), concat)``
    instead of ``transform(sequence, i -> element_at(...))`` — element_at
    walks the array per lookup, making the transform form O(len^2) per
    doc; the zip_with fold is a linear co-walk of the arrays (measured
    2x on the construction pass at sf0.1). Trailing partial grams from
    zip_with's null-padding are cut by the final slice to len-(n-1).

    `tokens` should still be a MATERIALIZED column (a plain column
    reference, via `shingle_table`), not an inline split(...) expression.
    """
    grams = tokens
    for k in range(2, n + 1):
        nxt = F.slice(tokens, k, F.greatest(F.size(tokens), F.lit(1)))
        grams = F.zip_with(grams, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(
        F.slice(grams, 1, F.greatest(F.size(tokens) - (n - 1), F.lit(0)))
    )


def shingle_table(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, *, nonempty: bool = False
) -> DataFrame:
    """(doc, sh) with tokens staged as a real column between selects —
    avoids per-element re-evaluation of split() inside the shingle lambda.
    The projection is rebalanced only when the scan is under-partitioned
    (a 1-2-partition small parquet would pin the downstream shingle
    explode to 1-2 cores); well-partitioned inputs pass through with no
    added shuffle.

    `nonempty=True` drops docs whose shingle array would be empty —
    callers must use THIS instead of `.filter(size(sh) > 0)` on the
    output: that filter gets predicate-pushed below the rebalance
    exchange with the whole shingle chain INLINED in unstaged form, so
    the single-task scan stage re-ran the full construction per row
    (measured 0.8 s at sf0.1 — the same pathology class the postings
    path dodges with explode_outer, r13). Here the equivalent condition
    is evaluated on the STAGED token array (sh is non-empty iff the doc
    has >= n tokens), whose pushed-down form is one cheap split per
    scan row."""
    from hw_kafka_flink_health_spark.sources.files import rebalance_if_narrow

    # rebalance the RAW text, not the token arrays (r13): with the split
    # below the exchange, the whole tokenization ran single-task in the
    # 1-partition scan stage (measured 0.8 s at sf0.1) and the exchange
    # carried the WIDER token arrays; the raw string is the column the
    # expression READS (the r12 hr_parse_contract lesson). The two-level
    # projection staging (tokens materialized between selects) is
    # unchanged — the exchange sits between the text and the split, and
    # word_shingles references __toks multiple times, so CollapseProject
    # still cannot inline the split into the shingle lambda.
    staged = rebalance_if_narrow(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__txt"))
    ).select("doc", F.split(F.col("__txt"), " ").alias("__toks"))
    if nonempty:
        staged = staged.filter(F.size("__toks") >= n)
    return staged.select("doc", word_shingles(F.col("__toks"), n).alias("sh"))


def _ngram_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(doc1, doc2, common, n1, n2) for every doc pair sharing >= 1
    distinct word trigram — the measure-independent core of BOTH
    near-dup screens (Jaccard and containment differ only in the final
    scalar over these five columns), cached and checkpointed ONCE per
    input plan so a session running both screens builds the
    postings pipeline a single time (r13; before, the containment query
    replayed the whole explode+shuffle the jaccard cache had already
    materialized).

    Physical shape (chosen over the naive explode-self-join, which scans
    and shuffles the shingle table twice): ONE pass builds (doc, n,
    shingle) postings — the per-doc shingle count rides along so no
    second shingle pass or count re-join exists anywhere — ONE shuffle
    groups them into per-shingle buckets, pairs are generated JVM-side
    inside each bucket (doc-sorted struct array -> upper triangle), and
    ONE final pair aggregate computes common counts with n1/n2 already in
    hand. ~2.5x faster than the join-based form at sf0.1.

    Shingles are compared via xxhash64 (64-bit) — a cross-doc collision
    would perturb a count with probability ~|shingles|^2 / 2^64; treated
    as exact (the DuckDB string-based oracle agrees on the test corpora).

    Counts are exact: every shingle bucket generates its pairs. A
    shingle in f docs makes f^2/2 pairs, so at 100 TB a hot shingle is
    the whole job.

    ALWAYS materialized (review r12): the pair-count table is tiny
    relative to the postings pass, and consumers (the two screens, the
    triangle query's degree/orientation/closure branches) otherwise
    replay the whole pipeline per consumer — including for
    non-file-backed inputs the cache skips.
    """
    return _PAIRS.get_or_build(
        frame_key(df, "counts", text_col, id_col),
        lambda: _count_shared_shingles(df, text_col, id_col),
    )


def _count_shared_shingles(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The uncached build behind `_ngram_pair_counts`."""
    # shingle_table spreads an under-partitioned scan across the cluster
    # (cached probe in rebalance_if_narrow); no extra probe here — the
    # raw df.rdd.getNumPartitions() this used to call compiles a fresh
    # RDD lineage per invocation (~0.3 s, r7 lesson) and duplicated the
    # rebalance shingle_table already performs.
    sh = shingle_table(df, text_col, id_col, 3)
    # Per-doc shingle counts ride ALONG the postings (8 bytes/row of extra
    # shuffle) instead of a second shingle pass + two re-joins at the end.
    # explode_OUTER, not explode: plain explode triggers the
    # InferFiltersFromGenerate rule, which synthesizes size(sh) > 0 and
    # pushes it to the scan with the whole shingle chain inlined in its
    # un-staged form — re-running construction per row (measured 5x on
    # the postings pass at sf0.1). outer explode infers nothing; the
    # empty-doc null rows are dropped by a filter on the cheap
    # materialized column instead.
    postings = (
        sh.select("doc", F.size("sh").alias("n"), F.explode_outer("sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .select("doc", "n", F.xxhash64("shingle").alias("h"))
    )

    buckets = (
        postings.groupBy("h")
        .agg(F.sort_array(F.collect_list(F.struct("doc", "n"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    # Spread the bucket arrays before the upper-triangle generation: the
    # generator's work is QUADRATIC in bucket size while the bucket rows
    # themselves are linear, and AQE's bytes-based coalescing sees only
    # the bytes — at sf0.1 it packed the 5 MB bucket exchange into 4
    # partitions and the f²/2 pair explosion ran on 4 of 32 cores
    # (measured 2.25 s stage, cpu-bound). One round-robin exchange of the
    # linear-sized bucket table before a superlinear generator is the
    # guide §2.5 trade (the experiment_bh_fdr replicate-explode
    # precedent); width follows the session's parallelism, no constant.
    buckets = buckets.repartition(postings.sparkSession.sparkContext.defaultParallelism)
    # upper-triangle pairs within each shingle bucket, generated JVM-side;
    # sort_array ordered by doc, so x.doc < y.doc holds in every pair
    pair = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, size(ds) - i - 1), "
                "y -> struct(x.doc AS doc1, x.n AS n1, y.doc AS doc2, y.n AS n2))))"
            )
        ).alias("p")
    ).select("p.doc1", "p.n1", "p.doc2", "p.n2")

    return pair.groupBy("doc1", "doc2").agg(
        F.count(F.lit(1)).alias("common"),
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
    ).localCheckpoint()


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs (id1 < id2, jaccard >= threshold).

    Jaccard = |A∩B| / (|A|+|B|-|A∩B|) over distinct word trigrams.
    The heavy pipeline lives in `_ngram_pair_counts` (shared with the
    containment screen and cached per session); this is one scalar +
    filter over that checkpointed five-column table. The thresholded
    frame itself stays in the cache too so repeat callers (and the
    connected-components memo, which keys on frame identity) get the
    same object back.
    """
    def build() -> DataFrame:
        counts = _ngram_pair_counts(df, text_col, id_col)
        jaccard = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
        # no second checkpoint: a narrow filter+projection over the
        # already-checkpointed counts table — each consumer re-reads a
        # tiny materialized table, never the postings pipeline
        return (
            counts.withColumn("jaccard", jaccard)
            .filter(F.col("jaccard") >= threshold)
            .select("doc1", "doc2", "jaccard")
        )

    return _PAIRS.get_or_build(
        frame_key(df, "jacc", text_col, id_col, threshold),
        build,
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.8,
    min_shingles: int = 1,
) -> DataFrame:
    """Exact word-trigram CONTAINMENT pairs: the asymmetric near-dup measure
    C(A->B) = |A∩B| / |A| that catches quotes/excerpts/supersets, which
    Jaccard structurally misses (a 10-gram quote inside a 10 000-gram
    doc has Jaccard ~0.001 but containment 1.0). Emits both directions
    per undirected pair, keeping pairs where EITHER reaches `threshold`;
    `min_shingles` drops trivially-tiny docs whose containment is noise.

    Shares `_ngram_pair_counts` with the Jaccard screen (the common/n1/n2
    counts are identical — only the final scalar differs), so a session
    running both builds the postings pipeline once (r13).
    """
    counts = _ngram_pair_counts(df, text_col, id_col)
    c12 = F.col("common") / F.col("n1")
    c21 = F.col("common") / F.col("n2")
    return (
        counts.filter(
            (F.col("n1") >= min_shingles) & (F.col("n2") >= min_shingles)
        )
        .select(
            "doc1",
            "doc2",
            c12.alias("containment_1_in_2"),
            c21.alias("containment_2_in_1"),
        )
        .filter(
            F.greatest("containment_1_in_2", "containment_2_in_1")
            >= threshold
        )
    )


def simhash63(
    df: DataFrame, text_col: str, id_col: str, *, hash: str = "xxhash64"
) -> DataFrame:
    """SimHash fingerprint per document (JVM-side, no Python UDF).

    Classic construction: hash each non-empty token, sum +1/-1 per bit
    position over all tokens, set result bit where the sum is positive.
    Hamming-close fingerprints => near-duplicate texts.

    `hash` picks the token hash: "xxhash64" (63 bits — bit 63/sign is
    skipped so the fingerprint is a non-negative long; JVM
    engine-specific, fastest) or "md5" (60 bits from the first 15 hex
    digits — any SQL engine re-derives the identical bits, which makes
    the fingerprint value-oracle-able; SimHash only needs a uniform
    deterministic hash, not a particular one)."""
    if hash == "xxhash64":
        n_bits, hcol = 63, F.xxhash64("token")
    elif hash == "md5":
        n_bits, hcol = 60, F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast(
            "long"
        )
    else:
        raise ValueError(f"unknown hash {hash!r} (xxhash64|md5)")
    tok = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(F.split(F.col(text_col), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .withColumn("h", hcol)
    )
    bit_sums = tok.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(n_bits)
        ]
    )
    sim = reduce(
        lambda acc, b: acc + F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)),
        range(1, n_bits),
        F.when(F.col("b0") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )
    return bit_sums.select(F.col("doc"), sim.alias("simhash"))


def winnowing_fingerprint(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    hash: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprint (rolling hash over char k-grams).

    The MOSS scheme: hash every 8-char gram (rolling window via substring
    + hash — all codegen'd), then keep the minimum hash of each 4
    consecutive grams; the distinct minima are the fingerprint set.
    Guarantees any shared substring of length >= 11 yields a
    shared fingerprint — the standard near-dup/plagiarism sketch.

    `hash` picks the gram hash: "xxhash64" (JVM engine-specific, so no
    cross-engine oracle) or "md5" (60-bit long from the first 15 md5 hex
    digits — every SQL engine re-derives the identical value via
    `('0x' || substr(md5(g),1,15))::BIGINT`, which makes the fingerprint
    set value-oracle-able). The winnowing guarantee only needs hash
    determinism, not a particular function. Fingerprints are longs in
    BOTH modes.

    Returns (doc, fingerprints array<long>, n_fingerprints).

    PERF, load-bearing shape: the gram array MUST evaluate once per row,
    and Catalyst's CollapseProject will happily inline a staged projection
    back into the consumer when the staged column is referenced once —
    which turns the windowed-min pass into O(len^2) HASH evaluations (at
    sf0.1 that was 420M md5 calls, ~700 s, vs <2 s staged). The window
    min is therefore built from 4 separate element lookups
    (`least(get(g, j), get(g, j+1), ...)`): multiple references to a
    non-cheap alias block the collapse (asserted on the optimized plan in
    tests/test_plans.py), and per-window slice-array allocation is gone
    too. Empty/short texts yield an EMPTY fingerprint array: the
    sequence() bounds are when()-guarded because Spark's sequence(1, 0)
    counts DOWN ([1, 0]), it is not empty.
    """
    if hash not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hash {hash!r} (xxhash64|md5)")
    if hash == "xxhash64":
        hf = lambda s: F.xxhash64(s)  # noqa: E731
    else:
        hf = lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(  # noqa: E731
            "long"
        )
    c = F.col(text_col)
    n_grams = F.length(c) - 7
    grams = F.when(
        n_grams > 0,
        F.transform(
            F.sequence(F.lit(1), n_grams), lambda i: hf(c.substr(i, F.lit(8)))
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # the per-gram hash chain (~len hashes per row, md5 in the oracle
    # tier) runs in THIS projection's stage: spread an under-partitioned
    # scan first or the whole corpus hashes on 1-2 cores (guide §2.5;
    # same cached-probe rebalance shingle_table uses — r12)
    from hw_kafka_flink_health_spark.sources.files import rebalance_if_narrow

    src = rebalance_if_narrow(df.select(F.col(id_col), F.col(text_col)))
    staged = src.select(F.col(id_col).alias("doc"), grams.alias("__grams"))
    g = F.col("__grams")
    n_wins = F.size("__grams") - 3
    wins = F.when(
        n_wins > 0,
        F.transform(
            F.sequence(F.lit(1), n_wins),
            # j is 1-based; F.get is 0-based
            lambda j: F.least(*[F.get(g, j + k - 1) for k in range(4)]),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    staged2 = staged.select("doc", F.array_distinct(wins).alias("fingerprints"))
    return staged2.select(
        "doc",
        "fingerprints",
        F.size("fingerprints").cast("long").alias("n_fingerprints"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    jaccard_distance_threshold: float = 0.7,
) -> DataFrame:
    """Approximate near-dup pairs via MinHash LSH (pyspark.ml).

    shingle -> HashingTF (binary) -> MinHashLSH -> approxSimilarityJoin.
    Sub-quadratic: candidate pairs come from hash-bucket joins, never a
    cross join — the 100 TB-scale path where exact Jaccard is infeasible.
    Returns (doc1, doc2, jaccard_distance) with doc1 < doc2.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = shingle_table(df, text_col, id_col, 3, nonempty=True)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(sh)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, jaccard_distance_threshold, distCol="jaccard_distance")
    return (
        pairs.select(
            F.col("datasetA.doc").alias("doc1"),
            F.col("datasetB.doc").alias("doc2"),
            F.col("jaccard_distance"),
        )
        .filter(F.col("doc1") < F.col("doc2"))
    )


#: Mersenne prime 2^31-1 — the modulus of the pinned minhash permutation
#: family. Chosen so every intermediate of (a*x + b) % p stays < 2^62:
#: a, x < 2^31 after reduction, so the product never overflows a signed
#: 64-bit long in ANY SQL engine (the property that makes the signatures
#: cross-engine replayable).
MINHASH_P = 2_147_483_647
#: Pinned permutation coefficients: a_i = (i*2654435761 + 1) mod p (Knuth
#: multiplicative constant), b_i = (i*40503 + 17) mod p. Formulaic so an
#: oracle can enumerate the identical family from `range(k)`.
def _minhash_coeffs(k: int) -> list:
    return [
        ((i * 2654435761 + 1) % MINHASH_P, (i * 40503 + 17) % MINHASH_P)
        for i in range(k)
    ]


def _minhash_det_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_perm: int,
    rows_per_band: int,
) -> DataFrame:
    """(doc, sig, band, key) rows of the deterministic minhash banding —
    the shared core of `minhash_det_pairs` (full-corpus self-join) and
    `minhash_det_incremental_candidates` (batch-vs-history join): md5
    shingle hash mod p, pinned `(a·x+b) mod p` permutations
    (`_minhash_coeffs`), ONE groupBy of min-aggregates for the
    signature, band key packing `rows_per_band` signature rows into one
    long (s0·p + s1 < 2^62)."""
    if num_perm % rows_per_band != 0:
        raise ValueError("num_perm must be a multiple of rows_per_band")
    if rows_per_band > 2:
        # the band key packs rows_per_band signature values base-p into
        # ONE long; p^2 < 2^62 fits, p^3 overflows int64 — Spark would
        # wrap silently (spurious band collisions) while a SQL replay
        # errors, breaking the engine-portability contract. Reject at the
        # API boundary; wider bands need a different key encoding.
        raise ValueError(
            "rows_per_band > 2 overflows the packed int64 band key "
            f"(p={MINHASH_P}); use rows_per_band in (1, 2)"
        )
    n_bands = num_perm // rows_per_band
    sh = shingle_table(df, text_col, id_col, 3, nonempty=True)
    x = (
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
        % MINHASH_P
    )
    postings = sh.select("doc", F.explode("sh").alias("shingle")).select(
        "doc", x.alias("x")
    )
    sig_cols = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % MINHASH_P).alias(f"s{i}")
        for i, (a, b) in enumerate(_minhash_coeffs(num_perm))
    ]
    sigs = postings.groupBy("doc").agg(*sig_cols).select(
        "doc", F.array(*[f"s{i}" for i in range(num_perm)]).alias("sig")
    )
    band_entries = [
        F.struct(
            F.lit(j).alias("band"),
            reduce(
                lambda acc, r: acc * MINHASH_P
                + F.get("sig", j * rows_per_band + r),
                range(1, rows_per_band),
                F.get("sig", j * rows_per_band).cast("long"),
            ).alias("key"),
        )
        for j in range(n_bands)
    ]
    return sigs.select(
        "doc", "sig", F.explode(F.array(*band_entries)).alias("bk")
    ).select("doc", "sig", "bk.band", "bk.key")


def minhash_det_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_perm: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.2,
) -> DataFrame:
    """MinHash LSH near-dup candidate pairs — NATIVE deterministic tier.

    Same banding asymptotics as the pyspark.ml tier (`minhash_lsh_pairs`)
    but with every source of engine-specific randomness removed, so a SQL
    oracle replays the exact signatures:

    * shingle hash = first 15 md5 hex digits parsed base-16 (60 bits,
      signed-safe — the md5 tier that value-oracled SimHash/winnowing),
      reduced mod p = 2^31-1;
    * permutation i = (a_i*x + b_i) mod p with PINNED formulaic
      coefficients (`_minhash_coeffs`) — no seeds, no JVM hash;
    * signature = per-doc min of each permutation (ONE shuffle: a single
      groupBy with `num_perm` min-aggregates, map-side partial);
    * banding = `num_perm/rows_per_band` bands, band key packs the band's
      signature rows into one long (s0*p + s1 < 2^62); candidates come
      from the band-key self-equi-join — never an all-pairs compare, the
      sub-quadratic 100 TB shape;
    * est_jaccard = matching-signature fraction, an exact k/num_perm
      binary fraction (repr-identical across engines, no rounding).

    The signature array rides through the band explode (num_perm longs per
    band row) so the pair estimate needs no second join back to a
    signature table — the same trade approxSimilarityJoin makes carrying
    its feature vectors. Returns (doc1, doc2, est_jaccard), doc1 < doc2.
    """
    bands = _minhash_det_bands(
        df, text_col, id_col,
        num_perm=num_perm, rows_per_band=rows_per_band,
    )
    a = bands.select(
        F.col("doc").alias("doc1"), F.col("sig").alias("sig1"), "band", "key"
    )
    b = bands.select(
        F.col("doc").alias("doc2"), F.col("sig").alias("sig2"), "band", "key"
    )
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2", "sig1", "sig2")
        .distinct()
    )
    matches = F.aggregate(
        F.zip_with("sig1", "sig2", lambda u, v: (u == v).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.select(
            "doc1",
            "doc2",
            (matches / F.lit(float(num_perm))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def connected_components(pairs: DataFrame, *, max_iterations: int = 20) -> DataFrame:
    """Cluster ids for near-dup pairs: each node gets the MIN node id
    reachable in its component — the canonical-representative step that
    turns pairwise dedup output into keep/drop decisions. Returns
    (node, cluster_id); see `min_label_fixpoint` for the rounds.

    The result is memoized per session on (pairs, max_iterations):
    three registered queries run this exact fixpoint on the SAME cached
    pairs frame (see _PAIRS). A DataFrame hashes by
    identity and the key holds the frame, so a recomputed or
    differently-parameterized pairs table can never be served a stale
    cluster map. Callers with their own, unshared edge frame call
    `min_label_fixpoint` directly, so they do not evict this entry.
    """
    return _CLUSTERS.get_or_build(
        (pairs, max_iterations),
        lambda: min_label_fixpoint(pairs, "doc1", "doc2", max_iterations),
    )


def min_label_fixpoint(
    pairs: DataFrame, src: str, dst: str, max_iterations: int
) -> DataFrame:
    """Min-label propagation over the undirected graph of `pairs`
    (edges are symmetrized, so a node seen on one side only is still
    labeled): labels start as the node id; each round every node takes
    the min of its own and its neighbors' labels, until a round changes
    nothing or `max_iterations` rounds ran. Returns (node, cluster_id).

    Each round is one edge join + min-agg, and its eager
    `localCheckpoint` truncates the lineage so round N's plan doesn't
    replay rounds 1..N-1 — the standard Spark posture for iterative
    algorithms (GraphX CC is this same loop). Near-dup clusters are tiny
    in practice (dup groups, not a social graph), so convergence is 2-3
    rounds; a 100 TB run keeps every round a single hash-partitioned
    self-join on node id."""
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select("u").distinct().select(
        F.col("u").alias("node"), F.col("u").alias("cluster_id")
    ).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # The convergence flag is computed IN the update select (a label
        # only changes when a neighbor offers a smaller one) and observed
        # on the round's own eager checkpoint, so the did-anything-change
        # probe costs no action. `max`, not `sum`, so a retried task
        # reporting twice cannot change it; empty labels observe NULL,
        # which also means converged.
        stepped = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")).alias(
                    "cluster_id"
                ),
                (
                    F.col("nbr_min").isNotNull()
                    & (F.col("nbr_min") < F.col("cluster_id"))
                ).alias("__changed"),
            )
        )
        obs = Observation()
        labels = (
            stepped.observe(obs, F.max(F.col("__changed").cast("int")).alias("changed"))
            .select("node", "cluster_id")
            .localCheckpoint(eager=True)
        )
        if not obs.get["changed"]:
            break
    return labels


def norm_tokens_expr(text: Column | str) -> Column:
    """Whitespace tokens of lower/collapsed text (the shared normalizer)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")), " ")


def ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Distinct word n-grams from an ALREADY-STAGED token-array column.

    ``transform(sequence(1, len-n+1))`` assembles each n-gram with
    ``slice`` + ``concat_ws`` — no explode until the caller asks for one,
    no Python in the loop. The token array must be a staged column, not an
    inline ``split(...)`` expression: common-subexpression elimination does
    not reach inside lambda bodies, so an inline split re-tokenizes the
    document once PER GRAM (same pathology the jaccard postings plan test
    pins; measured ~5x there). Documents shorter than ``n`` tokens yield an
    empty array (the ``when`` guard matters: Spark's ``sequence(1, 0)``
    counts DOWN, it is not empty)."""
    m = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), m), lambda i: F.concat_ws(" ", F.slice(toks, i, n))
    )
    return F.array_distinct(
        F.when(m >= 1, grams).otherwise(F.array().cast("array<string>"))
    )


def decontaminate_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: which corpus docs share an n-gram with the
    eval set (the GPT-3/PaLM-style 13-gram overlap check, parameterized n).

    Returns one row per contaminated corpus doc: (doc_id, n_hit_grams) where
    n_hit_grams counts DISTINCT shared n-grams. Scale shape: the benchmark
    gram set is tiny relative to the corpus, so it is broadcast — the corpus
    grams are generated map-side, filtered by the broadcast hash join
    in-place, and only the surviving (doc, gram) pairs shuffle once for the
    per-doc count. The corpus is never self-joined and never sorted."""
    bench_grams = (
        benchmark.select(norm_tokens_expr("text").alias("__toks"))
        .select(F.explode(ngrams_from_tokens(F.col("__toks"), n)).alias("gram"))
        .distinct()
    )
    # corpus-side tokenize + gram explode runs in the corpus's own stage
    # (the bench set broadcasts, so there is no exchange below the count):
    # spread an under-partitioned scan first (guide §2.5, r12) — the
    # cached probe no-ops on anything already partitioned
    from hw_kafka_flink_health_spark.sources.files import rebalance_if_narrow

    corpus_grams = rebalance_if_narrow(
        corpus.select(F.col("doc_id"), norm_tokens_expr("text").alias("__toks"))
    ).select(
        F.col("doc_id"), F.explode(ngrams_from_tokens(F.col("__toks"), n)).alias("gram")
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


def minhash_incremental_candidates(
    history: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    *,
    jaccard_distance_threshold: float = 0.7,
) -> DataFrame:
    """Ingestion-time NEAR-dup detection: candidate pairs between a new
    batch and the existing corpus only — the incremental sibling of
    `minhash_lsh_pairs` (full-corpus) and `dedup_incremental_ingest`
    (exact-fingerprint). The asymmetric approxSimilarityJoin probes the
    new batch's band buckets against the history's: cost scales with
    |batch| x bucket collision rate, NEVER |history|² — re-banding the
    history is a narrow map over its text (at scale the banded history
    is a persisted table partitioned by band hash and this becomes a
    bucket-pruned join; model hashing is seed-pinned so signatures are
    stable across runs).

    Returns (new_doc, old_doc, jaccard_distance).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    def featurize(df):
        sh = shingle_table(df, text_col, id_col, 3, nonempty=True)
        tf = HashingTF(
            inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True
        )
        return tf.transform(sh)

    hist_f = featurize(history)
    batch_f = featurize(batch)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    )
    model = lsh.fit(hist_f)
    pairs = model.approxSimilarityJoin(
        batch_f, hist_f, jaccard_distance_threshold, distCol="jaccard_distance"
    )
    return pairs.select(
        F.col("datasetA.doc").alias("new_doc"),
        F.col("datasetB.doc").alias("old_doc"),
        F.col("jaccard_distance"),
    )


def minhash_det_incremental_candidates(
    history: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.2,
) -> DataFrame:
    """Deterministic tier of the ingestion-time near-dup screen: the
    asymmetric sibling of `minhash_det_pairs` — candidates come from
    joining the NEW batch's band keys against the HISTORY's band keys
    (`_minhash_det_bands` on each side), so cost scales with |batch| ×
    bucket collision rate, never |history|². Same pinned md5/(a·x+b)
    mod p signatures as the full-corpus tier, so a SQL oracle replays
    the candidate set and the matching-fraction Jaccard estimates
    exactly (the pyspark.ml seeded tier `minhash_incremental_candidates`
    stays as the alternate engine path). At scale the history's banded
    table is persisted, partitioned by band key — re-banding here is
    the sandbox stand-in for that bucket-pruned join.

    Returns (new_doc, old_doc, est_jaccard), est_jaccard >= threshold.
    """
    kw = dict(num_perm=16, rows_per_band=2)
    new_b = _minhash_det_bands(batch, text_col, id_col, **kw).select(
        F.col("doc").alias("new_doc"), F.col("sig").alias("new_sig"), "band", "key"
    )
    old_b = _minhash_det_bands(history, text_col, id_col, **kw).select(
        F.col("doc").alias("old_doc"), F.col("sig").alias("old_sig"), "band", "key"
    )
    cand = (
        new_b.join(old_b, ["band", "key"])
        .select("new_doc", "old_doc", "new_sig", "old_sig")
        .distinct()
    )
    matches = F.aggregate(
        F.zip_with("new_sig", "old_sig", lambda u, v: (u == v).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return cand.select(
        "new_doc",
        "old_doc",
        (matches / F.lit(16.0)).alias("est_jaccard"),
    ).filter(F.col("est_jaccard") >= threshold)
