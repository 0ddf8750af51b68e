"""Property tests for the approximate operators (no value oracle by
design): ANN recall vs exact brute force, sketch determinism, and the
near-dup detection property on planted duplicates."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.cache import conf_override
from hw_kafka_flink_health_spark.operators.dedup import (
    minhash_lsh_pairs,
    simhash63,
    winnowing_fingerprint,
)
from hw_kafka_flink_health_spark.operators.similarity import cosine_topk, ivf_topk
from hw_kafka_flink_health_spark.sources.files import load_table

SF = "/root/testdata/sf0.001"


def _exact_neighbors(spark, k=5):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    out = cosine_topk(emb, q, k=k).collect()
    by_q: dict[int, set[int]] = {}
    for r in out:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    return by_q


@pytest.mark.slow  # ~15 s statistical recall property; full-suite tier
def test_ivf_recall_vs_exact(spark):
    exact = _exact_neighbors(spark)
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    approx = ivf_topk(emb, q).collect()
    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact[qid] & got.get(qid, set())) for qid in exact)
    total = sum(len(v) for v in exact.values())
    # 2-of-10 probes on near-orthogonal vectors: expect meaningful recall
    assert hits / total >= 0.4, f"IVF recall {hits}/{total}"


def test_ivf_self_excluded_and_k_respected(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    rows = ivf_topk(emb, q).collect()
    assert all(r.neighbor_id != r.query_id for r in rows)
    assert all(1 <= r.rank <= 5 for r in rows)


@pytest.mark.slow  # ~7 s statistical recall property; full-suite tier
def test_pq_recall_vs_exact_and_determinism(spark):
    """PQ ADC search: recall against exact brute force must be meaningful
    (byte codes lose information by design, but near neighbors survive),
    the index must be byte-deterministic across retrains (hash-ordered
    sample + seeded k-means), and self-matches/k bounds hold."""
    from hw_kafka_flink_health_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    exact = _exact_neighbors(spark, k=5)
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)

    cb1, d = pq_train(emb, m=8, sample_size=1000)
    cb2, _ = pq_train(emb, m=8, sample_size=1000)
    assert (cb1 == cb2).all(), "codebook training must be deterministic"
    assert cb1.shape[0] * cb1.shape[2] == d

    codes = pq_encode(emb, cb1)
    rows = pq_topk(codes, q, cb1).collect()
    assert all(r.neighbor_id != r.query_id for r in rows)
    assert all(1 <= r.rank <= 5 for r in rows)
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact[qid] & got.get(qid, set())) for qid in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.4, f"PQ recall {hits}/{total}"


def test_arrow_cosine_matches_expression_path(spark):
    """The NumPy/Arrow matmul path must reproduce the Catalyst HOF path
    exactly: same neighbor sets, same ranks, cosines equal to 1e-9 (both
    compute the same double-precision quantity; only summation order may
    differ)."""
    from hw_kafka_flink_health_spark.operators.similarity import cosine_topk_arrow

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    expr_rows = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk(emb, q, k=5).collect()
    }
    arrow_rows = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk_arrow(emb, q, k=5).collect()
    }
    assert expr_rows.keys() == arrow_rows.keys()
    for key, (nid, cos) in expr_rows.items():
        anid, acos = arrow_rows[key]
        assert anid == nid, (key, nid, anid)
        assert abs(acos - cos) < 1e-9


def test_arrow_cosine_near_tie_across_batches(spark):
    """Crafted near-ties exercising the arrow tier's rounded-tie widening
    (ADVICE r1 fix; ADVICE r2 asked for a test that actually hits it).

    Four candidates all round to cosine 0.500000 at rank_round=6 but
    differ in raw value; with Arrow batches capped at 3 rows the raw
    top-2 of batch 1 would be ids 10 and 11, silently dropping id 5 —
    whose ROUNDED value ties the batch's k-th and whose smaller id makes
    it the global rank-2 winner. Id 4 (also rounding to 0.500000) sits in
    batch 2, so the global rank-1 winner crosses a batch boundary. Parity
    with the expression path proves the widened local selection is
    consistent with the global round()+id ranking.
    """
    from hw_kafka_flink_health_spark.operators.similarity import cosine_topk_arrow

    def vec(c):
        return [c, float((1.0 - c * c) ** 0.5)]

    # (vec_id, cosine-vs-query): ids 4,5,10,11 all round to 0.500000
    corpus_rows = [
        (10, vec(0.5000004)),
        (11, vec(0.5000001)),
        (5, vec(0.4999996)),
        (4, vec(0.4999997)),
        (30, vec(0.1)),
        (31, vec(0.05)),
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<double>"
    ).coalesce(1)
    queries = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")

    with conf_override(spark, **{"spark.sql.execution.arrow.maxRecordsPerBatch": "3"}):
        arrow = {
            (r.query_id, r.rank): r.neighbor_id
            for r in cosine_topk_arrow(corpus, queries, k=2).collect()
        }
    expr = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(corpus, queries, k=2).collect()
    }
    # global ranking: rounded ties broken by id asc -> 4 then 5; ids 10/11
    # (raw-higher!) lose the tie-break and must NOT appear.
    assert arrow == {(1, 1): 4, (1, 2): 5}
    assert arrow == expr


def test_zero_norm_vectors_excluded_in_both_tiers(spark):
    """An all-zero embedding has no defined cosine: under ANSI mode the
    naive division kills the whole job (DIVIDE_BY_ZERO). Both tiers must
    instead EXCLUDE zero-norm candidates (try_divide -> NULL -> filtered
    in the expr tier; NaN mask in the arrow tier) and still agree."""
    from hw_kafka_flink_health_spark.operators.similarity import cosine_topk_arrow

    rows = [(0, [0.0, 0.0, 0.0])] + [
        (i, [float(i), 1.0, 0.5 * i]) for i in range(1, 8)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 1)
    for fn in (cosine_topk, cosine_topk_arrow):
        got = fn(df, q, k=10).collect()
        ids = {r.neighbor_id for r in got}
        assert 0 not in ids, fn.__name__
        assert ids == {2, 3, 4, 5, 6, 7}, (fn.__name__, ids)
    # and a zero-norm QUERY yields no rows rather than an error
    zq = df.filter(F.col("vec_id") == 0)
    for fn in (cosine_topk, cosine_topk_arrow):
        assert fn(df, zq, k=3).count() == 0, fn.__name__


def test_simhash_deterministic_and_neardup_property(spark):
    docs = load_table(spark, SF, "documents")
    a = {r.doc: r.simhash for r in simhash63(docs, "text", "doc_id").collect()}
    b = {r.doc: r.simhash for r in simhash63(docs, "text", "doc_id").collect()}
    assert a == b  # bit-for-bit deterministic across runs
    assert all(v >= 0 for v in a.values())  # 63-bit: non-negative longs

    # planted near-duplicate: one word changed -> small hamming distance;
    # unrelated doc -> large
    base = docs.orderBy("doc_id").limit(1).collect()[0]
    text = base.text
    mutated = "spark " + " ".join(text.split(" ")[1:])
    planted = spark.createDataFrame(
        [(1, text), (2, mutated), (3, "completely different words entirely unrelated content here")],
        ["doc_id", "text"],
    )
    fps = {r.doc: r.simhash for r in simhash63(planted, "text", "doc_id").collect()}
    ham = lambda x, y: bin(x ^ y).count("1")
    assert ham(fps[1], fps[2]) < ham(fps[1], fps[3])


def test_winnowing_guarantee_on_shared_substring(spark):
    """Winnowing guarantee: docs sharing a long substring share >= 1
    fingerprint; it is also deterministic."""
    shared = "the quick brown fox jumps over the lazy dog repeatedly"
    df = spark.createDataFrame(
        [
            (1, "prefix words here " + shared),
            (2, shared + " and a different suffix entirely"),
            (3, "zzz qqq xxx completely disjoint corpus with other chars"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc: set(r.fingerprints) for r in winnowing_fingerprint(df, "text", "doc_id").collect()}
    assert out[1] & out[2]  # shared substring -> shared fingerprint
    assert not (out[1] & out[3]) or len(out[1] & out[3]) < len(out[1] & out[2])
    again = {r.doc: set(r.fingerprints) for r in winnowing_fingerprint(df, "text", "doc_id").collect()}
    assert out == again


def test_minhash_lsh_finds_planted_duplicate(spark):
    docs = load_table(spark, SF, "documents").limit(50)
    base = docs.orderBy("doc_id").limit(1).collect()[0]
    near = base.text + " extra"
    planted = docs.select("doc_id", "text").union(
        spark.createDataFrame([(999999, near)], ["doc_id", "text"])
    )
    pairs = minhash_lsh_pairs(
        planted, "text", "doc_id", jaccard_distance_threshold=0.5
    ).collect()
    assert any(
        {r.doc1, r.doc2} == {base.doc_id, 999999} for r in pairs
    ), f"planted near-dup not found in {len(pairs)} pairs"


def test_hll_union_error_bound(spark):
    """DataSketches HLL per-month sketches, unioned to a total: every
    estimate must sit within 5% of the exact distinct count (default
    lgK=12 -> rsd ~1.6%; 5% is ~3 sigma). The union estimate comes only
    from merging monthly sketches — this asserts merge correctness, not
    just per-group accuracy."""
    from hw_kafka_flink_health_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    got = {r["grain"]: r["approx_custs"] for r in QUERIES["agg_hll_union"](spark, sf).collect()}
    orders = load_table(spark, sf, "orders")
    exact_m = {
        r["grain"]: r["n"]
        for r in orders.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("grain")
        ).agg(F.countDistinct("o_custkey").alias("n")).collect()
    }
    exact_m["total"] = orders.select("o_custkey").distinct().count()
    assert set(got) == set(exact_m)
    for grain, exact in exact_m.items():
        approx = got[grain]
        assert abs(approx - exact) <= max(2, 0.05 * exact), (grain, approx, exact)


def test_decontaminate_hits_planted_overlap(spark):
    """Planted contamination: doc sharing a 5-gram with the benchmark is
    flagged with the exact distinct-gram hit count; clean docs are not."""
    from hw_kafka_flink_health_spark.operators.dedup import decontaminate_hits

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            # contains 'quick brown fox jumps over' + 'brown fox jumps over the'
            (1, "a quick brown fox jumps over the fence"),
            (2, "completely different words in this one here"),
            (3, "short doc"),  # < n tokens: no grams at all
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r["n_hit_grams"]
        for r in decontaminate_hits(corpus, bench, n=5).collect()
    }
    assert rows == {1: 2}


def test_semdedup_prunes_planted_near_duplicates(spark):
    """SemDeDup guarantee: an exact duplicate of a lower-id vector is
    dropped (same cluster by construction — identical point), while
    well-separated vectors all survive."""
    from hw_kafka_flink_health_spark.operators.similarity import semdedup

    base = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 1.0]),
        (10, [1.0, 0.001, 0.0, 0.0]),  # near-dup of 1
        (11, [0.0, 0.0, 0.0, 1.001]),  # near-dup of 4
    ]
    df = spark.createDataFrame(base, ["vec_id", "embedding"])
    got = {r["vec_id"]: r["keep"] for r in semdedup(
        df, n_clusters=4, threshold=0.99, seed=7
    ).collect()}
    assert got[10] is False and got[11] is False
    assert all(got[i] for i in (1, 2, 3, 4))


def test_ngrams_from_tokens_matches_python_sliding_window(spark):
    """Property: the transform/slice/concat_ws gram builder equals the
    obvious Python sliding window (distinct) for edge shapes — empty
    text, sub-n docs, exact-n docs, heavy repetition."""
    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.operators.dedup import (
        ngrams_from_tokens,
        norm_tokens_expr,
    )

    texts = [
        "",
        "one",
        "a b",
        "a b c",
        "a b c d",
        "x x x x x x",
        "The  QUICK   brown fox",
        " lead and trail  ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    got = {
        r["i"]: r["g"]
        for r in df.select(
            "i",
            ngrams_from_tokens(norm_tokens_expr("text"), 3).alias("g"),
        ).collect()
    }

    def py_grams(t, n=3):
        toks = " ".join(t.lower().split()).split(" ")
        out, seen = [], set()
        for j in range(len(toks) - n + 1):
            g = " ".join(toks[j : j + n])
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    for i, t in enumerate(texts):
        assert got[i] == py_grams(t), (i, t, got[i])


def test_binned_interval_join_negative_coordinates(spark):
    """floor-division binning is correct across zero (pre-epoch days):
    pairs match iff containment holds, each exactly once."""
    from hw_kafka_flink_health_spark.operators.relational import binned_interval_join

    points = spark.createDataFrame([(-10,), (-1,), (0,), (3,), (12,)], ["p"])
    intervals = spark.createDataFrame(
        [(1, -12, -9), (2, -2, 1), (3, 2, 20)], ["iv", "lo", "hi"]
    )
    got = sorted(
        (r["iv"], r["p"])
        for r in binned_interval_join(
            points, intervals, point_col="p", start_col="lo", end_col="hi", bin_width=5
        ).collect()
    )
    assert got == [(1, -10), (2, -1), (2, 0), (3, 3), (3, 12)]


def test_decontaminate_empty_benchmark_flags_nothing(spark):
    from hw_kafka_flink_health_spark.operators.dedup import decontaminate_hits

    corpus = spark.createDataFrame(
        [(1, "some words repeated here some words repeated")], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([], "doc_id long, text string")
    assert decontaminate_hits(corpus, bench, n=3).count() == 0


def test_minhash_incremental_catches_planted_neardup_of_history(spark):
    """A new doc that is a lightly-edited copy of a HISTORY doc must
    surface as a (new, old) candidate; an unrelated new doc must not pair
    with it. Asymmetric join: only new-batch probes, never history x
    history (verified by the output's side roles)."""
    from hw_kafka_flink_health_spark.operators.dedup import (
        minhash_incremental_candidates,
    )
    from hw_kafka_flink_health_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    hist = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    base = hist.filter(F.col("doc_id") == 7).collect()[0]["text"]
    edited = base + " trailing edit tokens appended here"
    # new-batch ids use a disjoint (negative) namespace so they can never
    # collide with history ids at any scale factor
    batch = spark.createDataFrame(
        [(-7, edited), (-8, "entirely unrelated fresh content words nothing shared")],
        ["doc_id", "text"],
    )
    got = minhash_incremental_candidates(
        hist, batch, "text", "doc_id", jaccard_distance_threshold=0.5
    ).collect()
    pairs = {(r["new_doc"], r["old_doc"]) for r in got}
    assert (-7, 7) in pairs, pairs
    # every candidate is new-batch on the left, history on the right
    assert all(n < 0 and o >= 0 for n, o in pairs), pairs
    assert not any(n == -8 and o == 7 for n, o in pairs)


def test_minhash_det_incremental_catches_planted_neardup_of_history(spark):
    """Deterministic-tier twin of the planted-recall test above: the
    pinned-coefficient asymmetric band join must also surface the edited
    copy as a (new, old) candidate, keep side roles, and skip the
    unrelated doc — and unlike the seeded ml tier its est_jaccard is a
    stable k/num_perm fraction."""
    from hw_kafka_flink_health_spark.operators.dedup import (
        minhash_det_incremental_candidates,
    )
    from hw_kafka_flink_health_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    hist = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    base = hist.filter(F.col("doc_id") == 7).collect()[0]["text"]
    edited = base + " trailing edit tokens appended here"
    batch = spark.createDataFrame(
        [(-7, edited), (-8, "entirely unrelated fresh content words nothing shared")],
        ["doc_id", "text"],
    )
    got = minhash_det_incremental_candidates(
        hist, batch, "text", "doc_id", threshold=0.4
    ).collect()
    pairs = {(r["new_doc"], r["old_doc"]) for r in got}
    assert (-7, 7) in pairs, pairs
    assert all(n < 0 and o >= 0 for n, o in pairs), pairs
    assert not any(n == -8 and o == 7 for n, o in pairs)
    assert all(r["est_jaccard"] * 16 == round(r["est_jaccard"] * 16) for r in got)


def test_srp_ann_finds_planted_duplicate(spark):
    """Deterministic sign-random-projection ANN: an exact copy of a
    corpus vector shares every hyperplane sign, so it MUST collide in
    all bands, surface as a candidate, and win rank 1 with cosine 1.0
    — and the whole pipeline must be run-to-run identical (no seeds)."""
    from hw_kafka_flink_health_spark.operators.similarity import srp_ann_topk
    from hw_kafka_flink_health_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    copy = emb.filter(F.col("vec_id") == 3).select(
        F.lit(99999).cast(emb.schema["vec_id"].dataType).alias("vec_id"),
        "embedding",
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    corpus = emb.unionByName(copy.select(emb.columns))
    queries = corpus.filter(F.col("vec_id") == 99999)
    got = srp_ann_topk(corpus, queries, k=3).collect()
    top = [r for r in got if r["rank"] == 1]
    assert len(top) == 1 and top[0]["neighbor_id"] == 3, got
    assert abs(top[0]["sim"] - 1.0) < 1e-9
    again = srp_ann_topk(corpus, queries, k=3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_ivf_det_finds_planted_duplicate(spark):
    """Deterministic IVF: an exact copy of a corpus vector gets the same
    argmax-cosine centroid assignment, so the copy's top-probe list must
    contain the original — rank 1, cosine 1.0, run-to-run identical."""
    from hw_kafka_flink_health_spark.operators.similarity import ivf_det_topk
    from hw_kafka_flink_health_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    copy = emb.filter(F.col("vec_id") == 3).select(
        F.lit(99999).cast(emb.schema["vec_id"].dataType).alias("vec_id"),
        *[c for c in emb.columns if c != "vec_id"],
    )
    corpus = emb.unionByName(copy.select(emb.columns))
    queries = corpus.filter(F.col("vec_id") == 99999)
    got = ivf_det_topk(corpus, queries).collect()
    top = [r for r in got if r["rank"] == 1]
    assert len(top) == 1 and top[0]["neighbor_id"] == 3, got
    assert abs(top[0]["sim"] - 1.0) < 1e-9
    again = ivf_det_topk(corpus, queries).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_srp_ann_drops_ragged_vectors(spark):
    """A vector whose length differs from the corpus dimension must be
    EXCLUDED (not NULL-poisoned into band 0): zip_with against the
    dim-length sign array would pad with NULLs and a SQL replay would
    compute a partial sum — dropping is the only bit-identical rule."""
    from hw_kafka_flink_health_spark.operators.similarity import srp_ann_topk

    rows = [
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [1.0, 2.0, 3.0, 4.0]),
        (3, [9.0, 9.0]),  # ragged: must not appear on either side
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = srp_ann_topk(df, df, k=5)
    ids = {r["query_id"] for r in got.collect()} | {
        r["neighbor_id"] for r in got.collect()
    }
    assert 3 not in ids
    assert (1, 2) in {(r["query_id"], r["neighbor_id"]) for r in got.collect()}


def test_minhash_det_rejects_wide_bands():
    """rows_per_band >= 3 would overflow the packed int64 band key
    (p^3 > 2^63) — Spark wraps silently while SQL errors, so the API
    must reject it."""
    import pytest

    from hw_kafka_flink_health_spark.operators.dedup import minhash_det_pairs

    with pytest.raises(ValueError, match="rows_per_band"):
        minhash_det_pairs(None, "text", "doc_id", num_perm=24, rows_per_band=3)


def test_hll_overlap_inclusion_exclusion_bound(spark):
    """Sketch-algebra overlap estimates vs exact intersections: with 15
    users per segment the HLL estimates are near-exact; assert every
    pairwise overlap is within 5% + 2 absolute of truth."""
    from hw_kafka_flink_health_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    exact = {}
    users = {
        r.event_type: set(u.user_id for u in ev.filter(F.col("event_type") == r.event_type).select("user_id").distinct().collect())
        for r in ev.select("event_type").distinct().collect()
    }
    for ta in users:
        for tb in users:
            if ta < tb:
                exact[(ta, tb)] = len(users[ta] & users[tb])
    got = {
        (r.type_a, r.type_b): r.n_overlap_est
        for r in QUERIES["approx_overlap_hll"](spark, sf).collect()
    }
    assert set(got) == set(exact)
    for k, e in exact.items():
        assert abs(got[k] - e) <= max(2, 0.05 * e), (k, got[k], e)


def test_ann_driver_collects_fail_fast_when_oversized(spark):
    """The ANN query-set / PQ-training collects are driver-side by contract
    (broadcast small side); an oversized input must raise an actionable
    error BEFORE collecting it all, never OOM the driver."""
    import pytest

    from hw_kafka_flink_health_spark.operators.similarity import (
        MAX_TRAIN_SAMPLE_ROWS,
        _collect_query_set,
        pq_train,
    )

    vecs = spark.range(50).selectExpr(
        "id AS vec_id", "array(cast(id AS double), 1.0d) AS embedding"
    )
    with pytest.raises(ValueError, match="driver-side bound"):
        _collect_query_set(vecs, "vec_id", "embedding", max_rows=10)
    # within the bound: returns everything
    assert len(_collect_query_set(vecs, "vec_id", "embedding", max_rows=50)) == 50

    with pytest.raises(ValueError, match="training bound"):
        pq_train(vecs, sample_size=MAX_TRAIN_SAMPLE_ROWS + 1)


def test_simhash_md5_tier_is_near_dup_sensitive_and_60_bit(spark):
    """The md5 (oracle-able) SimHash tier keeps the SimHash property:
    near-identical docs land Hamming-close, unrelated docs far; and
    fingerprints fit in 60 bits (15 hex digits), staying non-negative."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "the quick brown fox jumps over the lazy dog near the river edge"),
            (3, "completely different subject matter about databases and indexing"),
        ],
        "doc_id long, text string",
    )
    fps = {r.doc: r.simhash for r in simhash63(docs, "text", "doc_id", hash="md5").collect()}
    assert all(0 <= v < (1 << 60) for v in fps.values())
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(fps[1], fps[2]) < ham(fps[1], fps[3])
    assert ham(fps[1], fps[2]) <= 12  # one-token edit flips few bit votes


def test_minhash_det_finds_planted_duplicate_and_is_deterministic(spark):
    """The native deterministic minhash tier (pinned-coefficient
    permutations over the md5 shingle hash) must recall a planted
    near-duplicate like the pyspark.ml tier, produce identical output
    across runs (no seeds, no JVM-specific hashing), and score exact
    duplicates at est_jaccard = 1.0."""
    from hw_kafka_flink_health_spark.operators.dedup import minhash_det_pairs

    docs = load_table(spark, SF, "documents").limit(50)
    base = docs.orderBy("doc_id").limit(1).collect()[0]
    planted = docs.select("doc_id", "text").union(
        spark.createDataFrame(
            [(999999, base.text + " extra"), (999998, base.text)],
            ["doc_id", "text"],
        )
    )
    pairs = minhash_det_pairs(planted, "text", "doc_id", threshold=0.2)
    got = {(r.doc1, r.doc2): r.est_jaccard for r in pairs.collect()}
    assert any(
        {d1, d2} == {base.doc_id, 999999} for (d1, d2) in got
    ), f"planted near-dup not found in {len(got)} pairs"
    exact_key = (min(base.doc_id, 999998), max(base.doc_id, 999998))
    assert got[exact_key] == 1.0  # identical docs share every signature row
    again = {(r.doc1, r.doc2): r.est_jaccard for r in pairs.collect()}
    assert got == again


def test_cosine_auto_routes_by_work_and_matches(spark):
    """cosine_topk_auto routes on corpus x queries x dims vs the
    threshold: forced-low threshold must take the arrow tier, forced-high
    the expression tier, and BOTH must return the identical neighbor/rank
    sets (the router is latency-only, never result-changing)."""
    from hw_kafka_flink_health_spark.operators.similarity import cosine_topk_auto

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)

    def key(df):
        return {(r.query_id, r.rank): r.neighbor_id for r in df.collect()}

    via_arrow = cosine_topk_auto(emb, q, k=3, work_threshold=1)
    via_expr = cosine_topk_auto(emb, q, k=3, work_threshold=10**18)
    # the arrow tier is mapInPandas (PythonMapInArrow/MapInPandas in the
    # plan); the expression tier is a pure codegen join
    arrow_plan = via_arrow._jdf.queryExecution().executedPlan().toString()
    expr_plan = via_expr._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in arrow_plan or "PythonMapInArrow" in arrow_plan, arrow_plan
    assert "MapInPandas" not in expr_plan and "PythonMapInArrow" not in expr_plan
    assert key(via_arrow) == key(via_expr)


def test_cosine_auto_precomputed_sizes_skip_probe_jobs(spark):
    """Callers that pass n_corpus/n_queries/dims must get zero pricing
    jobs: route with a corpus whose count() would CRASH if evaluated (a
    failing UDF inside the frame proves the probe never ran eagerly at
    build; the deliberately-huge claimed sizes force the arrow tier),
    and verify the claimed sizes actually drive the routing decision on
    a real frame."""
    from pyspark.sql.types import LongType

    from hw_kafka_flink_health_spark.operators.similarity import cosine_topk_auto

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)

    boom = F.udf(lambda x: (_ for _ in ()).throw(RuntimeError("probed")), LongType())
    tripwire = emb.withColumn("vec_id", boom(F.col("vec_id")))
    routed = cosine_topk_auto(
        tripwire, q, k=3, n_corpus=10**9, n_queries=5, dims=64
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan or "PythonMapInArrow" in plan, plan

    # claimed-small sizes route to the expression tier on the same input
    expr = cosine_topk_auto(emb, q, k=3, n_corpus=1, n_queries=1, dims=1)
    expr_plan = expr._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in expr_plan and "PythonMapInArrow" not in expr_plan


def test_srp_signature_tiers_bit_identical_and_plan_routed(spark):
    """The Arrow int64-matmul signature tier must return EXACTLY the HOF
    tier's rows (signatures are integer arithmetic — no tolerance), and
    the router must pick HOF below the work threshold (no Python node in
    the plan) vs Arrow above it (MapInPandas present)."""
    from hw_kafka_flink_health_spark.operators.similarity import srp_ann_topk

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 20)

    def ranked(rows):
        return sorted((r["query_id"], r["neighbor_id"], r["rank"]) for r in rows)

    hof = srp_ann_topk(emb, q, k=3, signature_work_threshold=1 << 60)
    arrow = srp_ann_topk(emb, q, k=3, signature_work_threshold=1)
    assert ranked(hof.collect()) == ranked(arrow.collect())
    hof_plan = hof._jdf.queryExecution().executedPlan().toString()
    arrow_plan = arrow._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in hof_plan
    assert "MapInPandas" in arrow_plan
