"""Streaming sink utilities beyond the built-in formats.

`foreach_batch_parquet` is the exactly-once file-sink pattern: the
checkpoint gives at-least-once batch replay, and writing each micro-batch
to a deterministic batchId-derived directory makes the replay idempotent
(re-running batch N overwrites batch N's own output, never duplicates).

Sink extension: keyed-upsert materialization beyond the reference's append-only Kafka/file sinks (SURVEY §2.A S3-S5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def foreach_batch_parquet(df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Start a foreachBatch query writing each micro-batch to
    out_dir/batch_id=N (idempotent under replay; read back with
    spark.read.parquet(out_dir))."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def enrich_with_static(stream_df: DataFrame, dim_df: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich a stream with a (batch) dimension table.

    Catalyst plans the static side as a regular (usually broadcast) join
    per micro-batch — no state store involved; the dim can be swapped by
    re-reading it in foreachBatch for slowly-changing dims.
    """
    return stream_df.join(dim_df, on, "left")


def foreach_batch_upsert(
    df: DataFrame, table_dir: str, checkpoint_dir: str, key_cols: list[str]
):
    """Keyed-upsert sink: each micro-batch MERGEs into a parquet table
    (updates win on key, untouched rows carry over) — the materialized-
    view pattern for update-mode aggregations (e.g. latest per-patient
    vitals), built on operators.relational.merge_upsert.

    Replay-safe: merging the same batch twice is a no-op (same keys get
    the same rows). Crash-safe swap: only atomic renames move the live
    table pointer — the old table is renamed aside before staging is
    renamed in, so every crash point leaves either the old table or the
    new one readable; a leftover staging dir from a crash mid-swap is
    recovered (renamed in) on the next batch instead of silently
    re-initializing from one micro-batch. On a real deployment back this
    with a table format's transactional commit instead. At scale the base
    table would be bucketed by the key so the anti join inside merge never
    shuffles the big side (operators/storage.py).
    """
    import os
    import shutil

    from hw_kafka_flink_health_spark.operators.relational import merge_upsert

    staging = table_dir + ".staging"
    retired = table_dir + ".retired"
    # Our own commit sentinel, written after the staging parquet write
    # returns and before the swap starts. Spark's _SUCCESS marker is NOT
    # used: it's optional (mapreduce.fileoutputcommitter.marksuccessfuljobs
    # can be false on a deployment), and recovery must not silently discard
    # a fully-written staging dir just because a config turned the marker
    # off (ADVICE r2).
    sentinel = "_COMMITTED"

    def recover() -> None:
        # Crash states: (a) staging + table both present -> swap never
        # started, staging may be a partial write: discard it. (b) staging
        # present (with sentinel), table missing -> crash mid-swap after
        # the old table was retired: the staging write had completed (the
        # sentinel is written only after the write returns, and the swap
        # only starts after the sentinel), so promote it. A sentinel-less
        # staging with no table can only be a first-ever batch that
        # crashed mid-write — no history to lose, discard. (c) retired
        # left behind after a completed swap: drop it.
        if os.path.isdir(staging):
            committed = os.path.isfile(os.path.join(staging, sentinel))
            if os.path.isdir(table_dir) or not committed:
                shutil.rmtree(staging)
            else:
                os.rename(staging, table_dir)
        if os.path.isdir(retired):
            shutil.rmtree(retired)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover()
        batch_df = batch_df.dropDuplicates(key_cols)
        if os.path.isdir(table_dir):
            base = spark.read.parquet(table_dir)
            merged = merge_upsert(base, batch_df.select(*base.columns), key_cols)
        else:
            merged = batch_df
        merged.write.mode("overwrite").parquet(staging)
        # Commit point: sentinel lands only after the write returned, so
        # recover() can trust it regardless of _SUCCESS-marker config.
        with open(os.path.join(staging, sentinel), "w"):
            pass
        # Swap with renames only (rename is atomic; rmtree is not): the
        # table dir is never in a half-deleted state.
        if os.path.isdir(table_dir):
            os.rename(table_dir, retired)
        os.rename(staging, table_dir)
        if os.path.isdir(retired):
            shutil.rmtree(retired)

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def foreach_batch_dynamic_rules(
    df: DataFrame,
    rules_path: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Flink broadcast-state parity: classification thresholds live in a
    tiny RULES table that operators update OUT OF BAND; every micro-batch
    re-reads it and classifies with the CURRENT rules — no restart, no
    redeploy (FlinkCEP/DataStream does this with a broadcast rules stream;
    Structured Streaming's idiom is the per-batch re-read of a slowly-
    changing dim, planned as a broadcast join each batch).

    rules_path: JSON file(s) with one row {"high": int, "low": int}. The
    batch applies the LATEST rule row (max file order is irrelevant — one
    row expected; crossJoin of a 1-row broadcast). Output rows land in
    out_dir/batch_id=N with the thresholds they were judged by, so the
    audit trail shows WHICH rule version classified each row."""
    from pyspark.sql import functions as F

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        rules = (
            spark.read.schema("high int, low int").json(rules_path).limit(1)
        )
        judged = batch_df.crossJoin(F.broadcast(rules)).withColumn(
            "status",
            F.when(F.col("heart_rate_bpm") > F.col("high"), "tachycardia_alert")
            .when(F.col("heart_rate_bpm") < F.col("low"), "bradycardia_alert")
            .otherwise("normal"),
        )
        judged.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def foreach_batch_side_outputs(
    df: DataFrame,
    rules,
    main_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
):
    """Flink side-output parity: ONE streaming query routes each
    micro-batch's rows to the main sink or the quarantine sink by named
    row-level rules (`operators/audit.py:split_by_constraints` — same
    rules engine the batch pipeline uses). Quarantined rows carry the
    names of every rule they violated. Both writes are per-batch
    idempotent (batchId-derived directories), so checkpoint replay
    cannot duplicate either side."""
    from hw_kafka_flink_health_spark.operators.audit import split_by_constraints

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            good, bad = split_by_constraints(batch_df, rules)
            good.write.mode("overwrite").parquet(f"{main_dir}/batch_id={batch_id}")
            from pyspark.sql import functions as F

            bad.withColumn(
                "__violations", F.array_join("__violations", ",")
            ).write.mode("overwrite").parquet(f"{quarantine_dir}/batch_id={batch_id}")
        finally:
            batch_df.unpersist()

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def foreach_batch_versioned_upsert(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
):
    """Transactional streaming sink: each micro-batch MERGEs into a
    VERSIONED snapshot table (operators/versioned.py) and the commit
    manifest records the batch id — the Delta-style exactly-once
    contract. On checkpoint replay, a batch whose id is already in the
    current manifest is skipped entirely, so duplicates are structurally
    impossible (vs the idempotent-overwrite form in
    `foreach_batch_upsert`, which re-does work on replay). Every batch
    leaves a time-travelable version behind: the materialized view AND
    its full history from one sink.

    Each batch commits via `merge_into` (deletion-vector tombstones +
    appended rows), so the per-batch cost is O(batch + matched), never
    O(table) — the property that keeps a continuously-upserting sink
    viable against a 100 TB table. The append-per-batch file pattern is
    exactly what `compact_snapshot` maintains."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot,
        current_version,
        last_committed_batch,
        merge_into,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = last_committed_batch(table_dir)
        if last is not None and batch_id <= last:
            return  # replayed batch: already committed, exactly-once skip
        spark = batch_df.sparkSession
        batch_df = batch_df.dropDuplicates(key_cols)
        if current_version(table_dir) is None:
            commit_snapshot(batch_df, table_dir, batch_id=batch_id)
        else:
            merge_into(spark, table_dir, batch_df, key_cols, batch_id=batch_id)

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
