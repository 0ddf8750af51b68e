"""Storage-layout plan guarantees: bucketed joins shuffle zero times,
partitioned reads prune directories, bucketed aggs skip their exchange."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.cache import conf_override
from hw_kafka_flink_health_spark.operators.storage import (
    write_bucketed,
    write_partitioned,
)
from hw_kafka_flink_health_spark.sources.files import load_table

from tests.conftest import SF_DIR


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS buck LOCATION '{wh}'")
    yield "buck"
    spark.sql("DROP DATABASE IF EXISTS buck CASCADE")


def test_bucketed_join_has_no_exchange(spark, warehouse):
    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    write_bucketed(
        orders, f"{warehouse}.orders_b", buckets=4, key="o_orderkey"
    )
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        f"{warehouse}.lineitem_b",
        buckets=4,
        key="o_orderkey",
    )
    ob = spark.table(f"{warehouse}.orders_b")
    lb = spark.table(f"{warehouse}.lineitem_b")
    joined = ob.join(lb, "o_orderkey").select("o_orderkey", "o_totalprice", "l_quantity")
    # Bucketing targets big-fact x big-fact joins where neither side can
    # broadcast; at test scale the planner would broadcast instead (and
    # skip bucketed scans), so pin the scenario bucketing exists for.
    with conf_override(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        plan = physical(joined)
    assert "Exchange" not in plan, plan  # the whole point of bucketing
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # same co-located layout also covers the join both tables were bucketed for
    n = joined.count()
    expected = (
        load_table(spark, SF_DIR, "orders")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .count()
    )
    assert n == expected


def test_bucketed_groupby_skips_shuffle(spark, warehouse):
    ob = spark.table(f"{warehouse}.orders_b")
    agg = ob.groupBy("o_orderkey").agg(F.sum("o_totalprice").alias("t"))
    assert "Exchange" not in physical(agg)


def test_partitioned_write_prunes_directories(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "events_by_type")
    write_partitioned(events, path, partition_cols="event_type")
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = physical(back)
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1].split("]")[0]
    # pruning must not change the answer
    expected = events.filter(F.col("event_type") == "click").count()
    assert back.count() == expected


def test_sorted_write_clusters_row_groups(spark, tmp_path):
    """write_sorted must produce row groups with tight, near-disjoint
    min/max stats on the sort column — the footer property parquet data
    skipping runs on — while a hash-shuffled layout of the SAME rows
    leaves almost every row group overlapping any given range predicate."""
    import glob

    import pyarrow.parquet as pq

    from hw_kafka_flink_health_spark.operators.storage import write_sorted

    events = load_table(spark, SF_DIR, "events")
    small = {"parquet.block.size": 16 * 1024}  # force many row groups

    clustered = str(tmp_path / "clustered")
    write_sorted(
        events, clustered, sort_cols="value", target_partitions=8,
        writer_options=small,
    )
    scattered = str(tmp_path / "scattered")
    w = events.repartition(8).write.mode("overwrite")
    w.option("parquet.block.size", small["parquet.block.size"]).parquet(scattered)

    def ranges(path):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            sch = md.schema.to_arrow_schema()
            idx = sch.get_field_index("value")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                out.append((st.min, st.max))
        return out

    rs, rc = ranges(scattered), ranges(clustered)
    assert len(rc) >= 4, "expected several row groups; shrink block size"

    lo = min(mn for mn, _ in rc)
    hi = max(mx for _, mx in rc)
    probe_lo = lo + (hi - lo) * 0.40
    probe_hi = lo + (hi - lo) * 0.45  # a 5%-wide range predicate

    def overlapping(rgs):
        return sum(1 for mn, mx in rgs if mx >= probe_lo and mn <= probe_hi)

    # clustered: the predicate touches a small contiguous run of groups
    assert overlapping(rc) <= max(2, len(rc) // 4), (rc, probe_lo, probe_hi)
    # scattered: value is uncorrelated with position -> ~every group overlaps
    assert overlapping(rs) >= len(rs) * 0.9

    # and the layout change must not change answers; the predicate reaches
    # the scan as a pushed filter
    back = spark.read.parquet(clustered).filter(
        (F.col("value") >= probe_lo) & (F.col("value") <= probe_hi)
    )
    assert "PushedFilters" in physical(back)
    expected = events.filter(
        (F.col("value") >= probe_lo) & (F.col("value") <= probe_hi)
    ).count()
    assert back.count() == expected


def test_zordered_write_skips_on_both_columns(spark, tmp_path):
    """Z-order layout must give row-group skipping on BOTH clustered
    columns, where a linear sort on one column gives skipping on that
    column only — proven from the written parquet footers, the stats
    data skipping actually runs on."""
    import glob

    import pyarrow.parquet as pq

    from hw_kafka_flink_health_spark.operators.storage import (
        write_sorted,
        write_zordered,
    )

    # sf0.01 for enough rows to split into many 16 KB row groups
    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    small = {"parquet.block.size": 16 * 1024}

    zpath = str(tmp_path / "zordered")
    write_zordered(
        events, zpath, cluster_cols=["value", "user_id"],
        target_partitions=4, writer_options=small,
    )
    lpath = str(tmp_path / "linear")
    write_sorted(
        events, lpath, sort_cols="value", target_partitions=4,
        writer_options=small,
    )

    def ranges(path, col):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                out.append((st.min, st.max))
        return out

    # 10%-of-rows probe slabs (quantile-based so column skew can't park
    # the probe in an empty region)
    v_lo, v_hi = events.approxQuantile("value", [0.40, 0.50], 0.001)
    u_lo, u_hi = events.approxQuantile("user_id", [0.40, 0.50], 0.001)

    def overlapping(rgs, lo, hi):
        return sum(1 for mn, mx in rgs if mx >= lo and mn <= hi)

    zv, zu = ranges(zpath, "value"), ranges(zpath, "user_id")
    lv, lu = ranges(lpath, "value"), ranges(lpath, "user_id")
    n = len(zv)
    assert n >= 8, "expected many row groups; shrink block size"

    # z-order: each dimension's slab overlaps ~a tile-column, a minority
    assert overlapping(zv, v_lo, v_hi) <= 0.5 * n, (n, overlapping(zv, v_lo, v_hi))
    assert overlapping(zu, u_lo, u_hi) <= 0.5 * n, (n, overlapping(zu, u_lo, u_hi))
    # linear-on-value: value skips at least as hard as z-order does...
    assert overlapping(lv, v_lo, v_hi) <= overlapping(zv, v_lo, v_hi) + 1
    # ...but user_id is uncorrelated with position -> ~every group overlaps
    assert overlapping(lu, u_lo, u_hi) >= 0.9 * len(lu)

    # layout must not change answers; the predicate reaches the scan pushed
    back = spark.read.parquet(zpath).filter(
        (F.col("user_id") >= u_lo) & (F.col("user_id") <= u_hi)
    )
    assert "PushedFilters" in physical(back)
    expected = events.filter(
        (F.col("user_id") >= u_lo) & (F.col("user_id") <= u_hi)
    ).count()
    assert back.count() == expected


def test_zorder_expr_rejects_long_overflow(spark):
    from hw_kafka_flink_health_spark.operators.storage import zorder_expr

    with pytest.raises(ValueError):
        zorder_expr(["a", "b", "c", "d"], {c: [0.5] for c in "abcd"}, bits=16)


def test_compact_small_files(spark, tmp_path):
    from hw_kafka_flink_health_spark.operators.storage import compact_small_files

    events = load_table(spark, SF_DIR, "events")
    frag = str(tmp_path / "fragmented")
    events.repartition(40).write.parquet(frag)  # simulate micro-batch litter
    import glob

    assert len(glob.glob(f"{frag}/*.parquet")) == 40
    out = str(tmp_path / "compacted")
    n_out = compact_small_files(spark, frag, out)
    files = glob.glob(f"{out}/*.parquet")
    assert len(files) == n_out == 1  # sf0.001 events << 128 MB
    assert spark.read.parquet(out).count() == events.count()


def test_bloom_filtered_write_adds_index_bytes_and_reads_back(spark, tmp_path):
    """Bloom-indexed write: the option must actually reach the parquet
    writer (observable as index bytes on disk — a 100k-NDV bloom is
    ~128KB per file per column) and the data must read back identically.

    The fixture needs genuinely high cardinality: parquet-mr SKIPS the
    bloom when a column chunk stays fully dictionary-encoded (the
    dictionary is already an exact membership filter), so a small
    dict-encodable fixture would write zero bloom bytes — which is also
    why the operator targets high-cardinality keys in production."""
    import glob
    import os

    from hw_kafka_flink_health_spark.operators.storage import write_bloom_filtered

    df = spark.range(100_000).selectExpr(
        "id AS k", "cast(id * 7919 % 1000 AS long) AS payload"
    ).coalesce(1)
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloomed")
    df.write.mode("overwrite").parquet(plain)
    write_bloom_filtered(df, bloomed, ["k"])

    size = lambda d: sum(os.path.getsize(f) for f in glob.glob(f"{d}/*.parquet"))
    delta = size(bloomed) - size(plain)
    assert delta > 60_000, f"bloom index bytes missing (delta={delta})"

    got = spark.read.parquet(bloomed)
    assert got.count() == df.count()
    assert got.filter(F.col("k") == 54_321).count() == 1
    assert got.filter(F.col("k") == 1_000_000).count() == 0


def test_manifest_file_pruning_reads_fewer_files_same_answer(spark, tmp_path):
    """Footer-manifest file skipping: on a range-clustered table a narrow
    range predicate must open a strict subset of files (file-level
    pruning, the Delta/Iceberg trick) and return exactly the rows the
    full scan returns."""
    from hw_kafka_flink_health_spark.operators.storage import (
        read_file_pruned,
        write_sorted,
    )

    orders = load_table(spark, SF_DIR, "orders")
    path = str(tmp_path / "sorted_orders")
    write_sorted(orders, path, sort_cols="o_totalprice", target_partitions=8)

    lo, hi = 1000.0, 5000.0
    pruned = read_file_pruned(spark, path, "o_totalprice", lo, hi)
    full = spark.read.parquet(path).filter(
        (F.col("o_totalprice") >= lo) & (F.col("o_totalprice") <= hi)
    )
    n_all = len(spark.read.parquet(path).inputFiles())
    n_pruned = len(pruned.inputFiles())
    assert n_all == 8
    assert 0 < n_pruned < n_all, (n_pruned, n_all)
    assert sorted(r[0] for r in pruned.select("o_orderkey").collect()) == sorted(
        r[0] for r in full.select("o_orderkey").collect()
    )


def test_ivf_index_as_partitioned_table_prunes_probed_lists(spark, tmp_path):
    """The IVF layout claim, proven on disk: the corpus written
    partitionBy(cluster) IS the inverted-file index — probing n_probe
    lists becomes directory pruning (PartitionFilters on the cluster
    column; only the probed directories' files are opened)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    feat = emb.select(
        "vec_id",
        "embedding",
        array_to_vector(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "features"
        ),
    )
    model = KMeans(k=8, seed=42, featuresCol="features", predictionCol="cluster").fit(feat)
    assigned = model.transform(feat).select("vec_id", "embedding", "cluster")

    out = str(tmp_path / "ivf_index")
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(out)

    probe = [2, 5]  # the lists a routed query would read
    scan = spark.read.parquet(out).filter(F.col("cluster").isin(probe))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan.split("PartitionFilters")[1][:120], plan
    # files actually read (post-pruning): only the probed directories
    opened = [
        r["f"]
        for r in scan.select(F.col("_metadata.file_path").alias("f")).distinct().collect()
    ]
    assert opened, "probe read no files"
    assert all(any(f"cluster={c}/" in f for c in probe) for f in opened), opened
    # pruned read returns exactly the probed lists' members
    expect = {r["vec_id"] for r in assigned.filter(F.col("cluster").isin(probe)).collect()}
    assert {r["vec_id"] for r in scan.collect()} == expect



def test_zstd_codec_shrinks_files_and_roundtrips(spark, tmp_path):
    """Codec lever: zstd trades a little CPU for materially smaller files
    than snappy (the default). At 100 TB the delta is tens of TB of
    storage and shuffle-read bytes. Both layouts must read back
    identically; zstd must actually be smaller on this redundant table."""
    import os

    from hw_kafka_flink_health_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")

    def write(codec, sub):
        out = str(tmp_path / sub)
        li.coalesce(1).write.mode("overwrite").option("compression", codec).parquet(out)
        return out, sum(
            os.path.getsize(os.path.join(out, f))
            for f in os.listdir(out)
            if f.endswith(".parquet")
        )

    snappy_dir, snappy_bytes = write("snappy", "snappy")
    zstd_dir, zstd_bytes = write("zstd", "zstd")
    assert zstd_bytes < snappy_bytes, (snappy_bytes, zstd_bytes)
    a = spark.read.parquet(snappy_dir)
    b = spark.read.parquet(zstd_dir)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0


def test_max_partition_bytes_controls_scan_task_count(spark, tmp_path):
    """Scan-sizing lever: spark.sql.files.maxPartitionBytes decides how
    many tasks read a file set. Halving it must increase scan parallelism
    (more, smaller input splits) without changing results — the knob that
    right-sizes 100 TB scans to executor memory."""
    from hw_kafka_flink_health_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    out = str(tmp_path / "li")
    load_table(spark, SF_DIR, "lineitem").coalesce(1).write.mode("overwrite").parquet(out)

    def n_parts(mpb):
        sess = spark.newSession()
        sess.conf.set("spark.sql.files.maxPartitionBytes", str(mpb))
        # openCostInBytes adds per-file padding to split math; pin it small
        sess.conf.set("spark.sql.files.openCostInBytes", "0")
        # otherwise minPartitionNum (= default parallelism) floors the
        # split count and hides the knob under test
        sess.conf.set("spark.sql.files.minPartitionNum", "1")
        df = sess.read.parquet(out)
        return df.rdd.getNumPartitions(), df.count()

    coarse_parts, coarse_n = n_parts(128 * 1024 * 1024)
    fine_parts, fine_n = n_parts(32 * 1024)
    assert fine_n == coarse_n
    assert fine_parts > coarse_parts, (coarse_parts, fine_parts)


def test_export_reconciliation_manifest_matches_readback(spark, tmp_path):
    """Export reconciliation: a per-partition manifest (row count + an
    order-insensitive md5-prefix checksum) computed from the SOURCE
    DataFrame must match the same manifest computed from the files read
    back — the end-to-end proof that a partitioned export lost nothing.
    The checksum is sum of the first 8 md5 hex chars per row: commutative
    (order-free), cheap, and sensitive to any dropped/duplicated row."""
    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    src = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    out = str(tmp_path / "export")
    src.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)

    def manifest(df):
        chk = F.conv(
            F.substring(F.md5(F.concat_ws("|", "o_orderkey", "o_custkey")), 1, 8), 16, 10
        ).cast("bigint")
        return {
            (r["o_orderpriority"]): (r["n"], r["checksum"])
            for r in df.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(chk).cast("bigint").alias("checksum"),
            )
            .collect()
        }

    m_src = manifest(src)
    m_back = manifest(spark.read.parquet(out))
    assert m_src == m_back
    assert len(m_src) == 5  # one entry per priority partition


def test_dynamic_partition_overwrite_replaces_only_touched_partitions(spark, tmp_path):
    """Ingestion semantics lever: partitionOverwriteMode=dynamic replaces
    ONLY the partitions present in the incoming batch (the daily-reload
    contract); static mode wipes the whole table first. Both behaviors
    verified on the same layout."""
    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    src = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    out = str(tmp_path / "dpo")
    src.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    full = spark.read.parquet(out).count()
    one_priority = src.filter(F.col("o_orderpriority") == "1-URGENT")
    n_urgent = one_priority.count()
    assert 0 < n_urgent < full

    sess = spark.newSession()
    sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # the conf lives on the session the WRITING DataFrame belongs to
    urgent_halved = (
        load_table(sess, SF_DIR, "orders")
        .select("o_orderkey", "o_orderpriority")
        .filter((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") % 2 == 0))
    )
    n_halved = urgent_halved.count()
    urgent_halved.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    back = sess.read.parquet(out)
    assert back.count() == full - n_urgent + n_halved  # other partitions intact
    assert back.filter(F.col("o_orderpriority") == "1-URGENT").count() == n_halved

    # static (default) mode: the same overwrite wipes every partition
    sess2 = spark.newSession()
    sess2.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    static_df = (
        load_table(sess2, SF_DIR, "orders")
        .select("o_orderkey", "o_orderpriority")
        .filter((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") % 2 == 0))
    )
    static_df.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    assert sess2.read.parquet(out).count() == n_halved


def test_materialize_bucketed_reclaims_only_on_refusal(spark, tmp_path):
    """materialize_bucketed must not rmtree its warehouse location up
    front (round-7 advice: that deletes a concurrent session's live
    files even when no collision exists). It writes first and reclaims
    ONLY after Spark refuses the location — simulated here by planting
    orphan files at the managed-table location with no catalog entry."""
    import os
    from urllib.parse import urlparse

    from hw_kafka_flink_health_spark.operators.storage import materialize_bucketed

    name = "orphan_reclaim_probe"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    loc = os.path.join(wh.path or wh.netloc, name.lower())
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "debris.bin"), "wb") as f:
        f.write(b"\x00" * 16)
    try:
        out = materialize_bucketed(
            spark,
            lambda: spark.range(100).withColumnRenamed("id", "k"),
            name,
            bucket_col="k",
        )
        assert out.count() == 100
        assert not os.path.exists(os.path.join(loc, "debris.bin"))
        # second call: cached catalog table, no rewrite
        assert materialize_bucketed(
            spark, lambda: spark.range(1), name, bucket_col="id"
        ).count() == 100
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_materialize_bucketed_yields_to_concurrent_catalog_entry(spark, tmp_path):
    """ADVICE r8 (low): the write-failure fallback must (a) return a table
    a concurrent session registered in the catalog instead of rmtree-ing
    its files, and (b) reclaim the location only on the SPECIFIC
    LOCATION_ALREADY_EXISTS condition — any other failure re-raises."""
    import pytest

    from hw_kafka_flink_health_spark.operators import storage as S

    name = "concurrent_catalog_probe"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        # simulate "a concurrent session won the write race": the builder
        # registers the table itself (as the racing winner would), so this
        # caller's own write refuses — the fallback must find the catalog
        # entry and return it untouched instead of rmtree + rewrite
        def racing_build():
            spark.range(7).withColumnRenamed("id", "k").write.bucketBy(
                4, "k"
            ).sortBy("k").saveAsTable(name)
            return spark.range(99).withColumnRenamed("id", "k")  # loser's df

        out = S.materialize_bucketed(spark, racing_build, name, bucket_col="k")
        assert out.count() == 7  # the winner's table, not the loser's 99
        # a write failure that is NOT a location refusal re-raises instead
        # of triggering the reclaim path (here: unresolvable bucket column)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        with pytest.raises(Exception, match="no_such_col|UNRESOLVED"):
            S.materialize_bucketed(
                spark, lambda: spark.range(3), name, bucket_col="no_such_col"
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
