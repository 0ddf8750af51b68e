"""File-source robustness: schema evolution across parquet batches,
malformed-row tolerance on CSV — the parse-don't-crash contract of the
reference's `parse_event` (None on bad input) applied at the file layer —
and a `load_table` schema cache that never outlives the files or confs
it was inferred from."""

from __future__ import annotations

import pytest

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.cache import conf_override
from hw_kafka_flink_health_spark.sources.files import (
    _SCHEMAS,
    load_table,
    read_csv_robust,
    read_parquet_evolved,
)
from tests.conftest import SF_DIR, count_jobs

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: the checkout these tests belong to; CLI subprocesses import its code
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_merge_schema_unions_evolving_batches(spark, tmp_path):
    path = str(tmp_path / "landing")
    v1 = spark.range(5).select(
        F.col("id").alias("event_id"), (F.col("id") * 10.0).alias("value")
    )
    v1.write.mode("append").parquet(path)
    # a later deploy starts writing an extra column
    v2 = spark.range(5, 8).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 10.0).alias("value"),
        F.lit("eu-west").alias("region"),
    )
    v2.write.mode("append").parquet(path)

    back = read_parquet_evolved(spark, path)
    assert set(back.columns) == {"event_id", "value", "region"}
    rows = {r.event_id: r.region for r in back.collect()}
    assert len(rows) == 8
    assert rows[0] is None and rows[7] == "eu-west"  # old rows null-padded
    # predicate on the EVOLVED column still reaches the scan as a pushed
    # filter (files predating the column prune via missing-column nulls)
    plan = (
        back.filter(F.col("region") == "eu-west")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "region" in plan.split("PushedFilters")[1][:80]


def _counts() -> tuple[int, int]:
    return _SCHEMAS.hits, _SCHEMAS.misses


def test_warm_load_table_launches_no_job_and_writes_no_conf(spark, tmp_path, monkeypatch):
    """A cold load infers the schema (one footer-read job), a warm load
    reuses it: no job and, with the engine confs already set, no session
    conf write. A path os.stat cannot read (a file: URI) is never cached."""
    shutil.copy(f"{SF_DIR}/events.parquet", tmp_path / "events.parquet")
    hits, misses = _counts()
    cold = count_jobs(spark, "load-cold", lambda: load_table(spark, str(tmp_path), "events"))
    assert (cold, *_counts()) == (1, hits, misses + 1)

    writes = []
    conf_cls = type(spark.conf)
    real_set = conf_cls.set
    monkeypatch.setattr(
        conf_cls, "set", lambda self, k, v: writes.append(k) or real_set(self, k, v)
    )
    out = []
    warm = count_jobs(
        spark, "load-warm", lambda: out.append(load_table(spark, str(tmp_path), "events"))
    )
    assert (warm, *_counts()) == (0, hits + 1, misses + 1)
    assert writes == []
    assert dict(out[0].dtypes)["ts"] == "timestamp_ntz"
    expected = spark.read.parquet(f"{SF_DIR}/events.parquet").orderBy("event_id")
    assert out[0].orderBy("event_id").collect() == expected.collect()

    uri = f"file://{tmp_path}"
    for _ in range(2):
        assert count_jobs(spark, "load-uri", lambda: load_table(spark, uri, "events")) == 1
    assert _counts() == (hits + 1, misses + 1)


def test_schema_cache_misses_on_rewritten_file_and_directory(spark, tmp_path):
    """Overwriting a single-file table, or a Spark-written directory, with
    an extra column: the next load infers again and sees the column."""
    orders = pq.read_table(f"{SF_DIR}/orders.parquet")
    pq.write_table(orders, tmp_path / "orders.parquet")
    assert "o_extra" not in load_table(spark, str(tmp_path), "orders").columns
    extra = pa.array(range(orders.num_rows), pa.int64())
    pq.write_table(orders.append_column("o_extra", extra), tmp_path / "orders.parquet")
    got = load_table(spark, str(tmp_path), "orders")
    assert got.columns[-1] == "o_extra"
    assert got.agg(F.sum("o_extra")).first()[0] == sum(range(orders.num_rows))

    table = f"{tmp_path}/written/region.parquet"
    spark.range(3).write.mode("overwrite").parquet(table)
    assert load_table(spark, f"{tmp_path}/written", "region").columns == ["id"]
    spark.range(3).withColumn("r_extra", F.col("id") * 2).write.mode("overwrite").parquet(
        table
    )
    got = load_table(spark, f"{tmp_path}/written", "region")
    assert sorted(got.collect()) == [(i, 2 * i) for i in range(3)]

    # Spark reads partition dirs named `_p=...`; their files are in the key
    part = f"{tmp_path}/part/region.parquet"
    spark.range(2).withColumn("_p", F.col("id")).write.partitionBy("_p").parquet(part)
    assert load_table(spark, f"{tmp_path}/part", "region").columns == ["id", "_p"]
    wider = spark.range(2).withColumn("r_extra", F.col("id") * 2)
    wider.withColumn("_p", F.col("id")).write.mode("overwrite").partitionBy("_p").parquet(part)
    got = load_table(spark, f"{tmp_path}/part", "region")
    assert sorted(got.collect()) == [(i, 2 * i, i) for i in range(2)]


def test_schema_key_follows_inference_confs(spark, tmp_path):
    """events.ts is a TIMESTAMP(MICROS) not adjusted to UTC, so
    `inferTimestampNTZ` decides its type: a load under the flipped conf
    gets its own entry and a TIMESTAMP column, and the first entry is hit
    again afterwards. A TIMESTAMP(NANOS) copy loads under a session with
    `nanosAsLong` off: load_table turns it on, infers ts as a long and
    converts it to the same microsecond timestamps."""
    shutil.copy(f"{SF_DIR}/events.parquet", tmp_path / "events.parquet")

    def ts_type() -> str:
        return dict(load_table(spark, str(tmp_path), "events").dtypes)["ts"]

    assert ts_type() == "timestamp_ntz"
    hits, misses = _counts()
    with conf_override(spark, **{"spark.sql.parquet.inferTimestampNTZ.enabled": "false"}):
        assert ts_type() == "timestamp"
    assert _counts() == (hits, misses + 1)
    assert ts_type() == "timestamp_ntz"
    assert _counts() == (hits + 1, misses + 1)

    events = pq.read_table(f"{SF_DIR}/events.parquet")
    i = events.schema.get_field_index("ts")
    nanos = events.set_column(i, "ts", events["ts"].cast(pa.timestamp("ns")))
    (tmp_path / "nanos").mkdir()
    pq.write_table(nanos, tmp_path / "nanos" / "events.parquet")
    stored = pq.ParquetFile(tmp_path / "nanos" / "events.parquet").schema.column(i)
    assert "nanoseconds" in str(stored.logical_type)
    with conf_override(spark, **{NANOS_AS_LONG: "false"}):
        got = load_table(spark, str(tmp_path / "nanos"), "events")
        assert spark.conf.get(NANOS_AS_LONG) == "true"
    micros = load_table(spark, str(tmp_path), "events")
    assert dict(got.dtypes)["ts"] == "timestamp_ntz"
    assert sorted(got.select("event_id", "ts").collect()) == sorted(
        micros.select("event_id", "ts").collect()
    )


def test_csv_permissive_captures_malformed(spark, tmp_path):
    src = str(tmp_path / "csv")
    os.makedirs(src)
    with open(os.path.join(src, "part-0.csv"), "w") as f:
        f.write("event_id,value\n")
        f.write("1,10.5\n")
        f.write("2,not-a-number\n")  # malformed: value fails the schema
        f.write("3,30.0\n")

    schema = "event_id long, value double, _corrupt_record string"
    back = read_csv_robust(spark, src, schema).cache()
    try:
        good = back.filter(F.col("_corrupt_record").isNull())
        bad = back.filter(F.col("_corrupt_record").isNotNull())
        assert sorted(r.event_id for r in good.collect()) == [1, 3]
        assert bad.count() == 1
        assert "not-a-number" in bad.collect()[0]._corrupt_record
    finally:
        back.unpersist()

    dropped = read_csv_robust(
        spark, src, "event_id long, value double", mode="DROPMALFORMED"
    )
    assert sorted(r.event_id for r in dropped.collect()) == [1, 3]


@pytest.mark.slow  # ~14 s subprocess CLI; full-suite tier
def test_sqlrun_cli_executes_sql(tmp_path):
    """`python -m hw_kafka_flink_health_spark.sqlrun` runs ad-hoc SQL over
    the registered views and prints JSON lines — the engine's front door
    for a user's own queries."""
    import json as _json
    import subprocess
    import sys

    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "hw_kafka_flink_health_spark.sqlrun",
            "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n "
            "FROM lineitem GROUP BY 1 ORDER BY 1",
            "--sf-dir",
            "/root/testdata/sf0.001",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/tmp",  # must work from any cwd
        env={**os.environ, "PYTHONPATH": REPO_ROOT},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [_json.loads(line) for line in proc.stdout.strip().splitlines()]
    flags = {r["l_returnflag"] for r in rows}
    assert flags == {"A", "N", "R"}
    assert all(r["n"] > 0 for r in rows)


@pytest.mark.slow  # ~13 s subprocess CLI; full-suite tier
def test_sqlrun_cli_explain(tmp_path):
    """--explain prints the formatted physical plan (regression: the
    ExplainMode overload isn't py4j-reachable from a bare string —
    ADVICE r1)."""
    import subprocess
    import sys

    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "hw_kafka_flink_health_spark.sqlrun",
            "SELECT count(*) AS n FROM lineitem WHERE l_quantity < 10",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--explain",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/tmp",
        env={**os.environ, "PYTHONPATH": REPO_ROOT},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "== Physical Plan ==" in proc.stdout
    # pushdown is visible in the formatted plan from the CLI, too
    assert "PushedFilters" in proc.stdout



def test_python_datasource_batch_partitions_and_parse_contract(spark):
    """Spark 4 Python DataSource: batch read is partition-parallel with
    disjoint strided ids, deterministic across reads, and its wire column
    feeds the reference parse contract end-to-end."""
    from hw_kafka_flink_health_spark.functions.parsing import parse_events_df
    from hw_kafka_flink_health_spark.sources.pydatasource import (
        PATIENTS,
        HeartRateDataSource,
    )

    spark.dataSource.register(HeartRateDataSource)
    df = (
        spark.read.format("heart_rate_synthetic")
        .option("rows", "600")
        .option("numPartitions", "3")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    assert len(rows) == 600
    assert sorted(r["event_id"] for r in rows) == list(range(600))
    assert {r["patient_id"] for r in rows} <= set(PATIENTS)
    assert all(55 <= r["heart_rate_bpm"] <= 95 for r in rows)
    # determinism: a second read is byte-identical
    again = (
        spark.read.format("heart_rate_synthetic")
        .option("rows", "600")
        .option("numPartitions", "3")
        .load()
        .collect()
    )
    assert sorted(rows) == sorted(again)
    # the raw JSON column satisfies the reference parse contract
    parsed = parse_events_df(df.select("raw"))
    assert parsed.filter(parsed.patient_id.isNull()).count() == 0
    assert parsed.count() == 600


def test_python_datasource_streaming_microbatches(spark, tmp_path):
    """The same source streams: two availableNow-style micro-batches via
    the simple stream reader, offsets advancing by rowsPerBatch."""
    from hw_kafka_flink_health_spark.sources.pydatasource import HeartRateDataSource

    spark.dataSource.register(HeartRateDataSource)
    stream = (
        spark.readStream.format("heart_rate_synthetic")
        .option("rowsPerBatch", "50")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pyds_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) FROM pyds_stream").collect()[0][0]
            if n >= 100:
                break
            time.sleep(0.5)
        assert n >= 100, n
        ids = [
            r[0]
            for r in spark.sql(
                "SELECT event_id FROM pyds_stream ORDER BY event_id LIMIT 100"
            ).collect()
        ]
        assert ids == list(range(100))
    finally:
        q.stop()


def test_python_datasource_filter_pushdown_prunes_generation(spark):
    """pushFilters: a range predicate on event_id must shrink the
    GENERATED range (scan output == filtered count without a post-scan
    filter doing the work), and non-pushable predicates still apply."""
    from hw_kafka_flink_health_spark.sources.pydatasource import (
        HeartRatePushdownDataSource,
        _PushdownBatchReader,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(HeartRatePushdownDataSource)
    df = (
        spark.read.format("heart_rate_pushdown")
        .option("rows", "1000")
        .option("numPartitions", "4")
        .load()
    )
    got = df.filter("event_id >= 900 AND event_id < 950").collect()
    assert sorted(r["event_id"] for r in got) == list(range(900, 950))
    # residual (non-pushable) predicate still correct
    n_p1 = df.filter("event_id < 100 AND patient_id = 'p001'").count()
    assert 0 < n_p1 < 100

    # white-box: the reader records the pushed range and yields only it
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    r = _PushdownBatchReader({"rows": "1000", "numPartitions": "4"})
    rest = list(
        r.pushFilters(
            [GreaterThanOrEqual(("event_id",), 900), LessThan(("event_id",), 950)]
        )
    )
    assert rest == []
    assert (r.lo, r.hi) == (900, 950)
    ids = sorted(e[0] for p in r.partitions() for e in r.read(p))
    assert ids == list(range(900, 950))


def test_python_datasource_writer_commits_manifest_atomically(spark, tmp_path):
    """DataSourceWriter two-phase commit: parts land per task, the
    manifest is driver-published only after all tasks succeed, and the
    manifest's row count equals what was written."""
    import glob
    import json as _json

    from hw_kafka_flink_health_spark.sources.pydatasource import (
        HeartRatePushdownDataSource,
    )

    spark.dataSource.register(HeartRatePushdownDataSource)
    out = str(tmp_path / "ds_out")
    df = spark.range(200).selectExpr("id", "id * 2 AS v").repartition(3)
    df.write.format("heart_rate_pushdown").option("path", out).mode("append").save()

    manifest = _json.load(open(f"{out}/_MANIFEST.json"))
    parts = sorted(glob.glob(f"{out}/part-*.jsonl"))
    assert manifest["rows"] == 200
    assert sorted(manifest["parts"]) == [p.split("/")[-1] for p in parts]
    rows = [
        _json.loads(line) for p in parts for line in open(p)
    ]
    assert len(rows) == 200
    assert sorted(r["id"] for r in rows) == list(range(200))


def test_hidden_metadata_column_row_provenance(spark, tmp_path):
    """Row-level provenance via the hidden `_metadata` struct: per-file
    row counts from `_metadata.file_path` must agree with inputFiles()
    and with each file's own footer row count — the debugging tool for
    'which ingest file produced this bad row' at scale."""
    import pyarrow.parquet as pq

    from hw_kafka_flink_health_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    events = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "prov")
    events.repartition(4).write.parquet(path)

    df = spark.read.parquet(path)
    per_file = {
        r["f"]: r["n"]
        for r in df.select(F.col("_metadata.file_path").alias("f"))
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # _metadata.file_path says file:/x; inputFiles() says file:///x —
    # same URI, different normal form
    strip = lambda u: "/" + u.split(":", 1)[1].lstrip("/")
    assert len(per_file) == 4
    assert {strip(f) for f in per_file} == {strip(f) for f in df.inputFiles()}
    for f, n in per_file.items():
        assert pq.ParquetFile(strip(f)).metadata.num_rows == n


def test_manifest_jsonl_roundtrip_ignores_orphan_parts(spark, tmp_path):
    """manifest_jsonl round trip: write via the two-phase-commit writer,
    then plant an ORPHAN part file (a crashed write that never got a
    manifest entry) — the reader must see exactly the committed rows,
    proving reads are atomic snapshots, and must project by the supplied
    schema regardless of JSON field order."""
    from hw_kafka_flink_health_spark.sources.pydatasource import (
        ManifestJsonlDataSource,
    )

    spark.dataSource.register(ManifestJsonlDataSource)
    out = str(tmp_path / "atomic")
    df = spark.range(100).selectExpr("id", "id * 3 AS v").repartition(2)
    df.write.format("manifest_jsonl").option("path", out).mode("append").save()

    # orphan from a "crashed" writer: present on disk, absent from manifest
    with open(f"{out}/part-deadbeef.jsonl", "w") as f:
        f.write('{"id": 999999, "v": -1}\n')

    back = (
        spark.read.format("manifest_jsonl")
        .schema("v long, id long")  # reversed order on purpose
        .option("path", out)
        .load()
    )
    rows = back.collect()
    assert len(rows) == 100
    assert all(r["v"] == r["id"] * 3 for r in rows)
    assert back.rdd.getNumPartitions() == 2  # one per committed part
    assert not [r for r in rows if r["id"] == 999999]  # orphan invisible


def test_hello_producer_payload_matches_reference_shape(spark):
    """--hello producer payloads carry exactly the reference's keys and
    values ({id, message: 'hello flink', timestamp: iso8601}) — cited:
    reference src/hello_kafka_producer.py:16-21."""
    import json

    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.sources.rate import hello_payload_expr

    df = spark.range(3).select(
        hello_payload_expr(
            F.col("id"), F.lit("2025-11-19 07:00:00.123456").cast("timestamp")
        )
    )
    rows = [json.loads(r["raw"]) for r in df.collect()]
    assert [r["id"] for r in rows] == [0, 1, 2]
    assert all(r["message"] == "hello flink" for r in rows)
    assert all(r["timestamp"].startswith("2025-11-19T07:00:00.123456") for r in rows)
    assert all(set(r) == {"id", "message", "timestamp"} for r in rows)


def test_union_by_name_tolerates_schema_drift(spark):
    """unionByName(allowMissingColumns=True): two deliveries whose column
    sets drifted (one added `quality`, one still lacks it) must union by
    NAME (never silently by position) with nulls filling the gaps — the
    companion to the mergeSchema read path for in-memory unions."""
    from pyspark.sql import functions as F

    a = spark.createDataFrame(
        [(1, "x", 0.9)], "doc_id long, text string, quality double"
    )
    b = spark.createDataFrame([(2, "y")], "doc_id long, text string")
    # positional union would mis-place columns; by-name must not
    u = a.unionByName(b, allowMissingColumns=True)
    rows = {r["doc_id"]: r for r in u.collect()}
    assert rows[1]["quality"] == 0.9 and rows[1]["text"] == "x"
    assert rows[2]["quality"] is None and rows[2]["text"] == "y"
    # column order follows the first relation; both rows share it
    assert u.columns == ["doc_id", "text", "quality"]


def test_ignore_corrupt_files_skips_bad_parquet(spark, tmp_path):
    """Operational robustness: a truncated/garbage parquet part among good
    ones must not kill the scan when ignoreCorruptFiles is on — the read
    returns every row from the intact files (and with the flag off, the
    same scan raises). The per-read option form keeps the tolerance
    scoped to the landing zone instead of session-global."""
    import pytest as _pytest

    good = tmp_path / "zone"
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    df.coalesce(2).write.parquet(str(good))
    # plant garbage that LOOKS like a part file
    (good / "part-99999-corrupt.snappy.parquet").write_bytes(b"PAR1 this is not parquet")

    ok = (
        spark.read.option("ignoreCorruptFiles", "true").parquet(str(good)).collect()
    )
    assert {r.id for r in ok} == set(range(100))

    with _pytest.raises(Exception):
        spark.read.option("ignoreCorruptFiles", "false").parquet(str(good)).collect()
