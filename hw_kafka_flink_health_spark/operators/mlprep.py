"""Training-data preparation operators: deterministic splits, stratified
sampling, text normalization.

These are the pipeline steps between raw corpus tables and a training
run. The design constraints at 100 TB:

* **Determinism without state.** Split assignment must be a pure function
  of the row (content-hash bucket), never a random() draw — so backfills,
  retries, and incremental reruns assign every document to the same split
  forever, with no membership table to join against.
* **Portability.** The bucket hash is md5-based (first 8 hex chars as an
  int), which every engine renders identically — the same expression runs
  in DuckDB/Trino for audits. xxhash64 would be faster but is
  Spark-specific; md5 here costs one pass over a short string.
* **No shuffle.** Split + sample are narrow (per-row / per-partition);
  only downstream consumers shuffle.

Extension surface (SURVEY §2.C): driver-mandated training-data ops with no counterpart in the reference's 393 LoC (SURVEY §2.B).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(col: Column | str, buckets: int = 10, salt: str = "") -> Column:
    """Deterministic, engine-portable bucket in [0, buckets) from a key.

    DuckDB/ANSI twin:
    ``CAST(concat('0x', substr(md5(concat(key, salt)), 1, 8)) AS BIGINT) % buckets``.
    The 8-hex-char prefix (32 bits) keeps the value inside BIGINT range in
    every engine; bias from the modulo is < 2^-25 for bucket counts under
    a few hundred.
    """
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(F.substring(F.md5(F.concat(c.cast("string"), F.lit(salt))), 1, 8), 16, 10)
    return (h.cast("bigint") % buckets).cast("bigint")


def train_valid_test_split(df: DataFrame, id_col: str, *, salt: str = "") -> DataFrame:
    """Tag each row 'train' / 'valid' / 'test' by hash bucket of its id.

    Of 10 buckets, 8 are train, 1 is valid and the remainder is test.
    Salting lets different experiments draw independent splits
    from the same corpus without correlation between them.
    """
    b = hash_bucket(id_col, 10, salt)
    split = (
        F.when(b < 8, "train")
        .when(b < 9, "valid")
        .otherwise("test")
    )
    return df.withColumn("split", split)


def hash_unit(col: Column | str, salt: str = "") -> Column:
    """Deterministic, engine-portable uniform draw in [0, 1) from a key:
    the first 8 hex chars of md5(key||salt) as a 32-bit integer, divided
    by 2^32. DuckDB twin:
    ``CAST(concat('0x', substr(md5(concat(key, salt)), 1, 8)) AS BIGINT)
    / 4294967296.0``.
    """
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(F.substring(F.md5(F.concat(c.cast("string"), F.lit(salt))), 1, 8), 16, 10)
    return h.cast("double") / F.lit(4294967296.0)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    *,
    id_col: str,
    default: float = 1.0,
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum Bernoulli sampling by hash threshold: keep a row iff
    its deterministic per-id uniform draw (`hash_unit`) is below the
    fraction for its stratum. Rebalances a corpus by language/source/
    quality tier in one narrow pass — no shuffle, no RNG.

    Unlike `sampleBy`'s seeded engine RNG, membership is a pure function
    of (id, salt): backfills and reruns keep exactly the same rows, the
    same expression runs in DuckDB/Trino for a value-level audit, and
    different experiments decorrelate via `salt`. Strata absent from
    `fractions` keep rows at `default` rate — so no driver-side pass to
    enumerate strata is ever needed.
    """
    u = hash_unit(id_col, salt)
    frac = None
    for stratum, f in fractions.items():
        cond = F.col(strata_col) == stratum
        frac = F.when(cond, float(f)) if frac is None else frac.when(cond, float(f))
    frac = frac.otherwise(float(default)) if frac is not None else F.lit(float(default))
    return df.filter(u < frac)


def shuffle_shards(df: DataFrame, id_col: str, *, n_shards: int = 8) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training export.

    Every pretraining run needs the corpus in a random-but-reproducible
    order, cut into N shard files. The scalable formulation avoids both a
    global sort and Spark's sampled RangePartitioner (whose cut points are
    non-deterministic across runs):

    * ``draw`` — a portable uniform draw in [0,1) from md5(id||'shuffle')
      (`hash_unit`) defines the global permutation.
    * ``shard = floor(draw * n_shards)`` — fixed uniform cut points on the
      draw, so shards are contiguous slices of the permutation with
      near-equal sizes (binomial deviation only), decided per-row with no
      sampling pass.
    * ``pos`` — rank of the draw within the shard (`row_number`, id
      tie-break), i.e. the write order inside the shard file. The window
      that materializes it is for AUDIT queries only (asserting the
      permutation); the physical export (`write_shuffled_shards`) never
      computes it — file order encodes position.

    At 100 TB this is ``repartition(n_shards, shard)`` +
    ``sortWithinPartitions(draw, id)`` — one shuffle, each task streams
    one shard out in order; no stage ever materializes a global rank.
    Re-running on a grown corpus re-derives the identical order for
    unchanged rows (new rows interleave deterministically), which a
    seeded `orderBy(rand())` cannot do.
    """
    draw = hash_unit(id_col, "shuffle")
    out = df.withColumn("draw", draw).withColumn(
        "shard", F.least(F.floor(F.col("draw") * n_shards), F.lit(n_shards - 1)).cast("bigint")
    )
    w = Window.partitionBy("shard").orderBy(F.col("draw"), F.col(id_col))
    return out.withColumn("pos", (F.row_number().over(w) - 1).cast("bigint"))


def int8_quantize_stats(df: DataFrame) -> DataFrame:
    """Per-vector int8 quantization (min/max affine, 256 levels) with
    reconstruction audit — the compression step before shipping vectors
    to an ANN index or a feature store (4x smaller than float32).

    Emits per vector: `mn` / `scale` (the dequantization params),
    `code_sum` (exact integer checksum of all codes — a strong equality
    witness without comparing arrays), and `max_abs_err`, which is
    bounded by scale/2 by construction.

    All higher-order-function expressions in double precision — codegen'd,
    narrow, zero shuffle; rounding is ``floor(x + 0.5)`` (portable —
    engine round() half-way tie rules differ). Degenerate constant
    vectors (scale 0) would yield null codes; the caller filters them
    (can't happen for real embeddings).
    """
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    df = df.withColumn("_v", v)
    mn = F.array_min(F.col("_v"))
    scale = (F.array_max(F.col("_v")) - mn) / F.lit(255.0)
    df = df.withColumn("_mn", mn).withColumn("_scale", scale)
    code = lambda x: F.floor((x - F.col("_mn")) / F.col("_scale") + F.lit(0.5))  # noqa: E731
    codes = F.transform(F.col("_v"), code)
    err = F.transform(
        F.col("_v"),
        lambda x: F.abs(x - (F.col("_mn") + code(x) * F.col("_scale"))),
    )
    return df.select(
        "vec_id",
        F.round(F.col("_mn"), 6).alias("mn"),
        F.round(F.col("_scale"), 8).alias("scale"),
        F.aggregate(codes, F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint"))
        .alias("code_sum"),
        F.round(F.array_max(err), 6).alias("max_abs_err"),
    )


def normalize_text_expr(col: Column | str) -> Column:
    """Canonical text-normalization for dedup/fingerprinting: lowercase,
    strip non-alphanumerics, collapse runs of whitespace, trim. Pure
    Catalyst expressions (whole-stage codegen; no Python in the path).

    DuckDB twin:
    ``trim(regexp_replace(regexp_replace(lower(t), '[^a-z0-9 ]', ' ', 'g'),
    ' +', ' ', 'g'))``.
    """
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " ")
    return F.trim(F.regexp_replace(cleaned, " +", " "))


def write_shuffled_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    *,
    n_shards: int = 8,
) -> None:
    """Materialize `shuffle_shards` as the physical training export: one
    parquet file per shard, rows inside each file in permutation order.

    `repartition(n_shards, shard)` + `sortWithinPartitions(draw, id)` is
    the exact one-shuffle plan the operator's docstring promises: every
    task streams one shard straight to disk in order. Hive-partitioning by
    shard keeps the files addressable (`shard=3/part-*.parquet`) so a
    trainer reads its shard with directory pruning and NO further sort —
    the row order IS the global permutation restricted to the shard.
    Determinism caveat at scale: `repartition(n, col)` places each shard
    wholly in one task, so per-file contents are a pure function of the
    data, not of cluster parallelism.

    Deliberately does NOT call `shuffle_shards`: the `pos` window there
    (one task per shard, full per-shard sort) would materialize exactly
    the rank this write path gets for free from `sortWithinPartitions` —
    file order already encodes position, so neither `pos` nor the `draw`
    sort key is persisted.
    """
    draw = hash_unit(id_col, "shuffle")
    out = df.withColumn("draw", draw).withColumn(
        "shard",
        F.least(F.floor(F.col("draw") * n_shards), F.lit(n_shards - 1)).cast("bigint"),
    )
    # Sort leads with `shard`: the dynamic-partition write REQUIRES child
    # ordering by its partition columns and would otherwise insert its own
    # (unstable) Sort(shard) on top, clobbering the permutation order.
    # `shard` is constant within each task, so (shard, draw, id) == (draw, id).
    (
        out.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "draw", id_col)
        .drop("draw")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
