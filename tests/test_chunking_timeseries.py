"""Property tests for the corpus-shaping (chunk/pack/redact) and
time-series (gapfill/snapshot-diff) operators, beyond the value-hash
oracle: structural invariants that must hold at any scale."""

from __future__ import annotations

from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.chunking import (
    chunk_documents,
    pack_greedy,
    redact_pii_expr,
)
from hw_kafka_flink_health_spark.operators.timeseries import (
    resample_forward_fill,
    snapshot_diff,
)
from hw_kafka_flink_health_spark.sources.files import load_table

from tests.conftest import SF_DIR


def test_chunks_reassemble_to_original(spark):
    """Dropping each chunk's 50-char overlap prefix (except chunk 0) and
    concatenating in order reconstructs the document exactly."""
    docs = load_table(spark, SF_DIR, "documents")
    chunks = chunk_documents(docs, "doc_id", "text")
    rebuilt = (
        chunks.withColumn(
            "piece",
            F.when(F.col("chunk_id") == 0, F.col("chunk_text")).otherwise(
                F.substring("chunk_text", 51, 200)
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("chunk_id", "piece"))).piece
            ).alias("rebuilt")
        )
    )
    mismatches = (
        docs.join(rebuilt, "doc_id")
        .filter(F.col("text") != F.col("rebuilt"))
        .count()
    )
    assert mismatches == 0


def test_chunk_sizes(spark):
    docs = load_table(spark, SF_DIR, "documents")
    chunks = chunk_documents(docs, "doc_id", "text")
    # every non-final chunk is exactly chunk_size; finals are 1..chunk_size
    w_max = chunks.groupBy("doc_id").agg(F.max("chunk_id").alias("last_id"))
    joined = chunks.join(w_max, "doc_id")
    bad_full = joined.filter(
        (F.col("chunk_id") < F.col("last_id")) & (F.col("chunk_len") != 200)
    ).count()
    bad_any = joined.filter(
        (F.col("chunk_len") < 1) | (F.col("chunk_len") > 200)
    ).count()
    assert bad_full == 0 and bad_any == 0


def test_pack_budget_straddle_bound(spark):
    """Each pack holds <= budget tokens plus at most one straddling doc,
    and pack ids are dense from 0 within each shard."""
    budget = 512
    docs = load_table(spark, SF_DIR, "documents")
    tokens = F.size(F.split(F.col("text"), " ")).cast("bigint")
    packed = pack_greedy(docs, "doc_id", tokens, budget=budget, partition_col="lang")
    stats = (
        packed.groupBy("lang", "pack_id")
        .agg(F.sum("_tokens").alias("tok"), F.max("_tokens").alias("mx"))
        .collect()
    )
    for r in stats:
        assert r["tok"] <= budget + r["mx"], r
    # dense ids: max(pack_id)+1 == distinct pack count per lang
    dense = (
        packed.groupBy("lang")
        .agg(
            (F.max("pack_id") + 1).alias("hi"),
            F.countDistinct("pack_id").alias("n"),
        )
        .filter(F.col("hi") != F.col("n"))
        .count()
    )
    assert dense == 0


def test_redaction_idempotent_and_complete(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@sub.example.co.uk now"),
            (2, "call 555-123-4567 or 555.123.4567"),
            (3, "ssn 123-45-6789 inline"),
            (4, "clean text with no pii at all"),
        ],
        "id int, t string",
    )
    once = df.select("id", redact_pii_expr("t").alias("r"))
    twice = once.select("id", redact_pii_expr("r").alias("r2"), "r")
    assert twice.filter(F.col("r") != F.col("r2")).count() == 0
    redacted = {r["id"]: r["r"] for r in once.collect()}
    assert redacted[1] == "mail [PII] now"
    assert redacted[2] == "call [PII] or [PII]"
    assert redacted[3] == "ssn [PII] inline"
    assert redacted[4] == "clean text with no pii at all"


def test_gapfill_grid_is_dense(spark):
    events = load_table(spark, SF_DIR, "events")
    ff = resample_forward_fill(events, "user_id", "ts", "value")
    per_user = ff.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.min("bucket_ts").alias("lo"),
        F.max("bucket_ts").alias("hi"),
        F.sum(F.col("value_ffill").isNull().cast("int")).alias("null_ffill"),
    )
    holes = per_user.filter(
        F.col("n") != (F.datediff(F.col("hi"), F.col("lo")) + 1)
    ).count()
    assert holes == 0
    # grid starts at first observation => forward fill never null
    assert per_user.filter(F.col("null_ffill") > 0).count() == 0


def test_snapshot_diff_planted_changes(spark):
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("string").alias("v")
    )
    old = base.filter(F.col("k") != 7)  # 7 missing from old -> added
    new = base.filter(F.col("k") != 13).withColumn(  # 13 removed
        "v", F.when(F.col("k") == 21, F.lit("CHANGED")).otherwise(F.col("v"))
    )
    got = {
        (r["k"], r["status"]) for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {(7, "added"), (13, "removed"), (21, "changed")}
