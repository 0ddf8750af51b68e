"""LLM-corpus shaping operators: chunking, sequence packing, PII redaction.

These are the steps between a cleaned corpus and a tokenizer: split long
documents into overlapping context-sized chunks, pack short documents into
fixed token budgets, and scrub PII before anything is written out.

Scale posture (100 TB):

* **Chunking is narrow per-row work** — `sequence` + `posexplode` +
  `substring` are pure Catalyst expressions; no shuffle, no Python. Output
  row count grows ~len/stride per doc, which is the unavoidable output
  size, not an intermediate blow-up.
* **Packing needs a global order**, which at scale is a range-partitioned
  sort (Spark's `Window.orderBy` without partition keys collapses to a
  single partition — fine for the oracle-sized check, NOT the scale path).
  `pack_greedy` therefore takes an optional `partition_col` (e.g. split or
  shard id): packing then runs per-partition, embarrassingly parallel,
  which is how real pipelines do it (pack within a shard, never globally).
* **Redaction is a regex map** — whole-stage codegen, zero shuffle.

Reference parity note: the reference (`/root/reference/src/flink_job.py`)
has no corpus operators at all; these implement the driver-mandated
training-data extension surface (SURVEY.md §2.C).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# PII patterns chosen to be portable across Java-regex (Spark) and RE2
# (DuckDB): no backreferences, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}[-.]\d{3}[-.]\d{4}"
SSN_RE = r"\d{3}-\d{2}-\d{4}"


def chunk_documents(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Split each document into 200-character chunks overlapping by 50.

    Chunk i covers ``[i*150, i*150 + 200)``; the number of chunks is
    ``max(1, ceil((len - 50) / 150))`` so the final chunk is the
    only short one and no chunk is pure overlap-tail.

    Output: one row per (doc, chunk) with ``chunk_id`` (0-based),
    ``chunk_text``, ``chunk_len``. Pure Catalyst (sequence/posexplode/
    substring) — no UDF, no shuffle.
    """
    stride = 200 - 50
    n = F.greatest(
        F.lit(1),
        F.ceil((F.length(F.col(text_col)) - F.lit(50)) / F.lit(float(stride))),
    ).cast("int")
    exploded = df.select(
        F.col(id_col),
        F.col(text_col),
        F.posexplode(F.sequence(F.lit(0), n - 1)).alias("chunk_id", "_start_idx"),
    )
    chunk = F.substring(
        F.col(text_col), F.col("_start_idx") * stride + 1, 200
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        chunk.alias("chunk_text"),
        F.length(chunk).cast("long").alias("chunk_len"),
    )


def pack_greedy(
    df: DataFrame,
    id_col: str,
    token_count_col: Column,
    *,
    budget: int = 512,
    partition_col: str | None = None,
) -> DataFrame:
    """Contiguous-fill sequence packing: walk rows in `id_col` order,
    accumulate token counts, and cut a new pack every time the running
    total crosses the budget — ``pack_id = floor((cumsum - 1) / budget)``.

    This is the deterministic streaming formulation of packing (documents
    may straddle a boundary; the tokenizer's BOS/EOS handling deals with
    that) — chosen over bin-packing because it is order-stable, one window
    pass, and identically expressible in ANSI SQL for the oracle. With
    `partition_col` the packing runs independently per shard (the scale
    path); without it the single global sort is only for small audits.
    """
    keys = [partition_col] if partition_col else []
    w = (
        Window.partitionBy(*keys).orderBy(id_col)
        if keys
        else Window.orderBy(id_col)
    )
    cum = F.sum(token_count_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn("_tokens", token_count_col).withColumn(
        "pack_id", F.floor((cum - 1) / budget).cast("long")
    )
    return out


def redact_pii_expr(col: Column | str) -> Column:
    """Scrub emails, phone numbers, and SSN-shaped strings from text.

    One chained regexp_replace per pattern — all JVM-side, codegen'd, and
    dialect-portable (the same patterns run under DuckDB's RE2 for the
    oracle check).
    """
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for pat in (EMAIL_RE, PHONE_RE, SSN_RE):
        out = F.regexp_replace(out, pat, "[PII]")
    return out
