"""Compression-ratio quality signal: deterministic monotonicity contract
(repetitive text compresses hardest, incompressible text not at all) and
exact agreement with local zlib."""

from __future__ import annotations

import zlib

from hw_kafka_flink_health_spark.operators.compress import (
    COMPRESS_LEVEL,
    compression_ratio,
)


def test_compression_ratio_monotone_and_exact(spark):
    repetitive = "spam ham " * 200
    prose = (
        "the quick brown fox jumps over the lazy dog while a distant "
        "train whistles through the cold evening air and the market "
        "closes mixed on light volume after a quiet session "
    ) * 5
    # md5 output stream: statistically incompressible hex
    import hashlib

    incompressible = "".join(
        hashlib.md5(str(i).encode()).hexdigest() for i in range(50)
    )
    rows = [(0, repetitive), (1, prose), (2, incompressible)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {r.doc_id: r for r in compression_ratio(df).collect()}
    # exact parity with a local zlib call, row by row
    for did, text in rows:
        b = text.encode("utf-8")
        assert got[did].n_bytes == len(b)
        assert got[did].n_zlib_bytes == len(zlib.compress(b, COMPRESS_LEVEL))
    # monotone quality ordering
    assert got[0].zlib_ratio < got[1].zlib_ratio < got[2].zlib_ratio
    assert got[2].zlib_ratio > 0.5  # hex stream barely compresses
    assert got[0].zlib_ratio < 0.1  # repetition collapses


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A verbatim 12-token excerpt inside a 60-token doc: containment of
    the excerpt is 1.0 while Jaccard is far below any useful threshold —
    the exact asymmetry the operator exists for."""
    from hw_kafka_flink_health_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    long_words = [f"w{i}" for i in range(60)]
    excerpt = long_words[20:32]
    df = spark.createDataFrame(
        [(1, " ".join(long_words)), (2, " ".join(excerpt))],
        "doc_id long, text string",
    )
    got = ngram_containment_pairs(
        df, "text", "doc_id", threshold=0.8, min_shingles=1
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["doc1"], r["doc2"]) == (1, 2)
    # doc2 (the excerpt) is fully contained in doc1
    assert r["containment_2_in_1"] == 1.0
    assert r["containment_1_in_2"] < 0.25
    # jaccard at the same cutoff sees nothing
    assert (
        ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.8).count() == 0
    )
