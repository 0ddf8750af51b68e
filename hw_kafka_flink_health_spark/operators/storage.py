"""Storage-layout operators: bucketing and partitioned writes.

The two heaviest levers at 100 TB are not in any single query — they're in
how tables are laid down once so that every later query skips work:

* **Bucketing** pre-shuffles a table by its join/agg key at write time.
  Two tables bucketed by the same key into the same bucket count join
  with ZERO Exchange — the shuffle was paid once, at ingest, instead of
  per-query. This is the batch analog of the reference's keyed streams
  (`src/flink_job.py:104-108` keys by patient so windows never reshuffle).
* **Partitioned writes** (`partitionBy`) turn low-cardinality predicates
  into directory pruning: a filter on the partition column never opens
  the other partitions' files (shows as `PartitionFilters` in the scan).

Both are plain writer options — no custom machinery — but the plan
guarantees they buy are asserted in `tests/test_storage.py`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    buckets: int,
    key: str | list[str],
) -> None:
    """Persist `df` as a parquet table bucketed (and bucket-sorted) by `key`.

    Bucket count is a contract between tables: co-located joins require
    equal counts on both sides. Pick it once per subject area from target
    file size (total size / buckets ≈ 128-512 MB each), not per table.
    Sorting within buckets additionally lets the join skip its Sort step
    (plan shows SortMergeJoin whose children have neither Exchange nor
    Sort).
    """
    keys = [key] if isinstance(key, str) else list(key)
    writer = df.write.format("parquet").mode("overwrite").bucketBy(buckets, *keys)
    writer.sortBy(*keys).saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_cols: str | list[str],
) -> None:
    """Write parquet hive-style partitioned by `partition_cols`.

    Partition columns must be low-cardinality (otherwise: small-file
    explosion — at 100 TB a date or date+coarse-category key is right,
    a user_id is wrong). Readers get directory-level pruning for free.
    """
    cols = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    df.write.mode("overwrite").partitionBy(*cols).parquet(path)


def materialize_partitioned(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    path: str,
    *,
    partition_cols: str | list[str],
) -> DataFrame:
    """Write-once partitioned materialization: build + `partitionBy` write
    the first time, plain read every time after (`_SUCCESS`-gated, so a
    crashed half-write rebuilds).

    This is the ingest-time half of dynamic partition pruning: DPP can
    only skip directories that exist, so the fact table must be laid down
    partitioned by the pruning key once. At 100 TB the write is the
    (one-off) cost of every later query scanning 1/N of the table; the
    demo queries use a /tmp cache keyed by scale factor so correctness
    runs and bench runs pay it once per machine.
    """
    import os

    cols = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        build().write.mode("overwrite").partitionBy(*cols).parquet(path)
    return spark.read.parquet(path)


def runtime_bloom_session(spark: SparkSession) -> SparkSession:
    """Clone the session with runtime bloom-filter injection active for
    shuffle joins (`InjectRuntimeFilter`): the selective small side
    builds a bloom filter that is pushed into the big side's scan filter
    (`might_contain(...)` in the plan), discarding non-matching rows
    BEFORE the shuffle instead of after the join.

    Why a cloned session (`newSession`): the returned DataFrame optimizes
    lazily under whatever conf is live at execution time, so setting
    session-global conf here would leak plan changes into every other
    query in the process. The clone shares the SparkContext (no new JVM)
    but owns its conf.

    Why the thresholds move: Spark's defaults only inject when the
    probe-side scan exceeds 10 GB and the join is not broadcastable —
    exactly the 100 TB posture, where the filtered dim is still tens of
    GB and the fact shuffle dominates. At demo scale (sf0.01/sf0.1) the
    dim would broadcast and the scan is MBs, so the rule never fires; the
    lowered thresholds (+ broadcast off) reproduce on test data the same
    physical plan the defaults produce on the cluster. Production keeps
    the defaults.
    """
    s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "100MB",
    )
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return s


def write_sorted(
    df: DataFrame,
    path: str,
    *,
    sort_cols: str | list[str],
    target_partitions: int | None = None,
    writer_options: dict | None = None,
) -> None:
    """Write parquet clustered on `sort_cols` for row-group data skipping.

    `repartitionByRange` gives disjoint per-file key ranges (a range
    shuffle paid once at write), then `sortWithinPartitions` orders rows
    inside each file so every parquet row group carries tight min/max
    stats on the sort columns. A later scan with a predicate on those
    columns skips whole files (via footer stats) and whole row groups
    (via parquet predicate pushdown) — the third storage lever next to
    bucketing (join locality) and hive partitioning (directory pruning),
    and the right one for HIGH-cardinality range-queried columns
    (timestamps, prices) where partitionBy would explode into small
    files. `tests/test_storage.py` proves the clustering from the
    written footers: with this layout a point/range predicate overlaps
    ~1 row group; on the unsorted layout it overlaps nearly all.
    """
    cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
    out = df
    if target_partitions is not None:
        out = out.repartitionByRange(target_partitions, *cols)
    else:
        out = out.repartitionByRange(*cols)
    writer = out.sortWithinPartitions(*cols).write.mode("overwrite")
    for k, v in (writer_options or {}).items():
        writer = writer.option(k, v)
    writer.parquet(path)


def zorder_expr(
    cols: list[str],
    boundaries: dict[str, list[float]],
    *,
    bits: int = 8,
) -> Column:
    """Morton (Z-order) key over `cols` as a pure Catalyst expression.

    Each column is rank-scaled to a `bits`-bit bucket id — its position
    among precomputed quantile `boundaries` — then the bits of all
    columns are interleaved (column j contributes bit i of its bucket id
    as bit ``i*ncols + j`` of the key). Sorting by the key lays rows
    down along a Z-curve through the joint RANK space, so contiguous row
    groups become tiles holding ~equal row mass: a range predicate on
    ANY clustered column overlaps ~R^((d-1)/d) of R row groups instead
    of all of them — the multi-column generalization of `write_sorted`,
    which skips perfectly on one column and not at all on the others.

    Rank scaling (not min/max): a skewed column under min/max scaling
    collapses to a handful of codes and loses all discrimination in the
    interleave — Delta's Z-order uses range-partition ids for the same
    reason. The bucket lookup is a `filter` HOF over a literal
    boundaries array (`size(filter(bnds, b -> b <= x))`), so the whole
    key — lookup, shifts, adds — stays inside whole-stage codegen;
    2^bits is the per-column tile resolution (256 at the default, far
    above any realistic row-group count).
    """
    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"bits*ncols must fit a signed long, got {bits}*{n}")
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        bnds = F.array(*[F.lit(float(b)) for b in boundaries[c]])
        x = F.col(c).cast("double")
        bucket = F.size(F.filter(bnds, lambda b: b <= x))
        scaled.append(F.least(bucket, F.lit(top)).cast("long"))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * n + j)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    *,
    cluster_cols: list[str],
    target_partitions: int | None = None,
    writer_options: dict | None = None,
) -> None:
    """Write parquet Z-order-clustered on `cluster_cols` so row-group
    min/max stats skip on predicates over ANY of the clustered columns.

    `write_sorted` is the right layout when one column dominates the
    predicates; this is the right one when two-to-four columns share
    them (e.g. events range-scanned by time AND by user). The write
    costs one `approxQuantile` sketch pass (bounded driver payload:
    255 doubles per column, to rank-scale the key to 8 bits) plus the same
    one range shuffle `write_sorted` pays; range-partitioning on the
    Z-key also evens out z-value skew across files. Footer-level
    skipping on both columns is proven from the written parquet
    metadata in `tests/test_storage.py`.
    """
    cols = list(cluster_cols)
    nq = (1 << 8) - 1
    probs = [(i + 1) / (nq + 1) for i in range(nq)]
    qs = df.approxQuantile(cols, probs, 1.0 / (4 * (nq + 1)))
    boundaries = dict(zip(cols, qs))
    out = df.withColumn("__zkey", zorder_expr(cols, boundaries, bits=8))
    if target_partitions is not None:
        out = out.repartitionByRange(target_partitions, "__zkey")
    else:
        out = out.repartitionByRange("__zkey")
    out = out.sortWithinPartitions("__zkey").drop("__zkey")
    writer = out.write.mode("overwrite")
    for k, v in (writer_options or {}).items():
        writer = writer.option(k, v)
    writer.parquet(path)


def compact_small_files(spark, src_dir: str, dst_dir: str) -> int:
    """Compact a directory of small parquet files into ~128 MB ones.

    The small-file problem is the dominant tax on long-lived 100 TB
    tables fed by streaming/incremental writers: every micro-batch
    leaves files, and a 10k-file directory costs more in driver-side
    planning + per-file open overhead than the scan itself. Compaction =
    read once, coalesce to ceil(bytes / target), write once.

    `coalesce` (not `repartition`): no shuffle — each output task reads
    a few input files whole. Returns the chosen output file count.
    Production notes for the real cluster: run per hive-partition so
    compaction parallelizes and commits atomically per partition
    (write to temp dir + rename), and skip partitions already compacted
    (file count == ceil(bytes/target)).
    """
    import math
    import os

    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(src_dir)
        for f in fs
        if f.endswith(".parquet")
    )
    n_out = max(1, math.ceil(total / (128 * 1024 * 1024)))
    df = spark.read.parquet(src_dir)
    df.coalesce(n_out).write.mode("overwrite").parquet(dst_dir)
    return n_out


def write_bloom_filtered(df, path: str, cols: list[str]) -> None:
    """Write parquet with file-level bloom-filter indexes on ``cols``.

    Blooms answer point-lookup predicates (``k = ?``, ``k IN (...)``) on
    HIGH-cardinality columns where min/max row-group stats cannot prune
    (a uniformly distributed key spans every row group's min/max range).
    At 100 TB this is the difference between opening every row group and
    skipping all but the ones that might contain the key — the standard
    companion to z-ordering for needle-in-haystack reads. Each column's
    filter is sized for 100 000 distinct values: too low inflates the
    false-positive rate, too high wastes footer bytes.
    Note parquet-mr omits the bloom for column chunks that stay fully
    dictionary-encoded (the dictionary is already an exact membership
    filter) — so only high-cardinality columns actually pay/benefit.
    pyarrow 16 cannot read bloom metadata back, so the test pins the
    bytes-on-disk delta plus read equivalence (Spark's reader consumes
    the blooms transparently)."""
    w = df.write.mode("overwrite")
    for c in cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        w = w.option(f"parquet.bloom.filter.expected.ndv#{c}", "100000")
    w.parquet(path)


def build_file_manifest(path: str, col: str) -> list[tuple[str, object, object]]:
    """Per-FILE (min, max) stats manifest for ``col``, read from parquet
    footers only — the Delta/Iceberg data-skipping index, hand-rolled.

    Returns [(file_path, min, max)] with one row per data file; footers
    are a few KB each so this never touches row data. At 100 TB the
    manifest is not rebuilt per query like this demo does — it is itself
    a table, appended at write time per committed file and read with a
    predicate — but the pruning contract below is identical."""
    import glob
    import os

    import pyarrow.parquet as pq

    out: list[tuple[str, object, object]] = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                lo = hi = None  # a stat-less row group poisons the file
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out.append((f, lo, hi))
    return out


def read_file_pruned(
    spark,
    path: str,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Range scan that opens ONLY the files whose [min,max] for ``col``
    overlaps [lo, hi], per the footer manifest — file-level skipping on
    top of the row-group skipping Spark already does, and the reason
    sorted/z-ordered layouts pay off: on a `write_sorted` table the
    overlap set is O(selectivity), on a random layout it is every file.
    Files with missing stats are conservatively kept. The residual
    filter stays on the scan, so correctness never depends on the
    manifest being right."""
    keep = [
        f
        for f, mn, mx in build_file_manifest(path, col)
        if mn is None or mx is None or (mx >= lo and mn <= hi)
    ]
    c = F.col(col)
    if not keep:
        return spark.read.parquet(path).filter(c >= lo).filter(c <= hi).limit(0)
    return spark.read.parquet(*keep).filter((c >= lo) & (c <= hi))


def materialize_bucketed(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    table_name: str,
    *,
    bucket_col: str,
) -> DataFrame:
    """Session-cached BUCKETED catalog table: `bucketBy(8, key).sortBy(key)
    .saveAsTable` the first time, `spark.table` after.

    Bucketing is the ingest-time half of a shuffle-free join: two tables
    bucketed by the same key into the same bucket count satisfy the
    join's hash-partitioning requirement AT REST, so the join plans with
    ZERO Exchange on either side (asserted in tests/test_plans.py) —
    at 100 TB that deletes the single most expensive stage of every
    recurring fact⋈fact join on the bucket key. sortBy additionally
    lets SortMergeJoin skip the per-task sort when each bucket holds one
    file. The table lives in the session catalog (files under
    spark.sql.warehouse.dir), so a fresh session pays the one-off write
    again — same write-once posture as materialize_partitioned, scoped
    to the catalog instead of a /tmp path."""
    if not spark.catalog.tableExists(table_name):
        df = build()

        def _write() -> None:
            # errorifexists, not overwrite: a table another session
            # registered between our existence check and this write must
            # surface as an exception (handled below by returning THEIR
            # table), never be silently clobbered by ours
            (
                df.write.mode("errorifexists")
                .bucketBy(8, bucket_col)
                .sortBy(bucket_col)
                .saveAsTable(table_name)
            )

        try:
            _write()
        except Exception as e:
            # The warehouse DIRECTORY outlives the in-memory catalog (a
            # new session forgets the table but the files remain), and
            # Spark refuses to create a managed table over an existing
            # location. Reclaim that location ONLY after Spark itself
            # refused it with the SPECIFIC location-collision condition
            # (round-8 advice: a broad "already exists" substring also
            # matches TableAlreadyExistsException and unrelated errors,
            # and rmtree-ing on those deletes live data), and only after
            # re-checking the catalog: a CONCURRENT session sharing this
            # catalog may have created the table between our existence
            # check and the write — return theirs instead of clobbering
            # it. NOTE the residual contract: an in-memory catalog cannot
            # tell orphaned debris from another LIVE process's table at
            # the same name — processes sharing one warehouse dir must
            # use distinct table names (or a real metastore).
            if spark.catalog.tableExists(table_name):
                return spark.table(table_name)
            get_condition = getattr(e, "getCondition", None)
            condition = get_condition() if callable(get_condition) else None
            if condition != "LOCATION_ALREADY_EXISTS":
                raise
            import os
            import shutil
            from urllib.parse import urlparse

            wh = urlparse(
                spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            )
            loc = os.path.join(wh.path or wh.netloc, table_name.lower())
            if os.path.exists(loc):
                shutil.rmtree(loc, ignore_errors=True)
            _write()
    return spark.table(table_name)
