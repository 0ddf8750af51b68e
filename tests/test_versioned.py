"""Versioned snapshot tables: time travel, snapshot isolation, append
sharing files across versions, and vacuum retention."""

from __future__ import annotations

import os

from hw_kafka_flink_health_spark.operators.versioned import (
    commit_snapshot,
    current_version,
    read_snapshot,
    vacuum,
)


def test_time_travel_and_overwrite_isolation(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v0 = commit_snapshot(spark.range(10).selectExpr("id", "id * 2 AS v"), t)
    assert v0 == 0 and current_version(t) == 0

    # a reader pins v0 BEFORE the overwrite commits...
    pinned = read_snapshot(spark, t)
    v1 = commit_snapshot(spark.range(5).selectExpr("id + 100 AS id", "id AS v"), t)
    assert v1 == 1 and current_version(t) == 1

    # ...and still sees the old snapshot after it (snapshot isolation)
    assert {r.id for r in pinned.collect()} == set(range(10))
    # latest readers see the overwrite
    assert {r.id for r in read_snapshot(spark, t).collect()} == {
        100 + i for i in range(5)
    }
    # explicit time travel back to v0
    assert {r.id for r in read_snapshot(spark, t, version=0).collect()} == set(
        range(10)
    )


def test_append_shares_files_and_vacuum_retains_reachable(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_snapshot(spark.range(3).selectExpr("id"), t)
    commit_snapshot(spark.range(3, 6).selectExpr("id"), t, mode="append")
    assert {r.id for r in read_snapshot(spark, t).collect()} == set(range(6))
    # v1 references v0's files — append did not rewrite them
    v0_files = {n for n in os.listdir(t) if n.startswith("data-v0-")}
    assert v0_files

    # two overwrites push v0/v1 out of the keep-last-2 window
    commit_snapshot(spark.range(100, 103).selectExpr("id"), t)
    commit_snapshot(spark.range(200, 203).selectExpr("id"), t)
    deleted = vacuum(t, keep_last=2)
    assert any(n.startswith("data-v0-") for n in deleted)
    # retained versions still read cleanly
    assert {r.id for r in read_snapshot(spark, t).collect()} == {200, 201, 202}
    assert {r.id for r in read_snapshot(spark, t, version=2).collect()} == {
        100,
        101,
        102,
    }


def test_version_diff_composes_with_snapshot_diff(spark, tmp_path):
    """Change-data between any two retained versions falls out of
    composing time travel with the existing CDC diff operator — no new
    machinery: diff(read(v0), read(v1)) names exactly the added/removed/
    changed keys."""
    from hw_kafka_flink_health_spark.operators.timeseries import snapshot_diff

    t = str(tmp_path / "tbl")
    commit_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], ["id", "val"]
        ),
        t,
    )
    commit_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "B"), (4, "d")], ["id", "val"]
        ),
        t,
    )
    diff = {
        (r.id, r.status)
        for r in snapshot_diff(
            read_snapshot(spark, t, version=0),
            read_snapshot(spark, t, version=1),
            ["id"],
        ).collect()
    }
    assert diff == {(2, "changed"), (3, "removed"), (4, "added")}


def test_streaming_versioned_upsert_exactly_once_with_history(spark, tmp_path):
    """Transactional streaming sink: two micro-batches produce two table
    versions (history preserved); re-delivering batch 0's data under a
    FRESH checkpoint (so it replays as a new stream) does not duplicate
    keys because the upsert merges on key; and a direct replay of an
    already-committed batch id is skipped by the manifest check."""
    import json as _json
    import os as _os

    from hw_kafka_flink_health_spark.operators.versioned import (
        current_version,
        last_committed_batch,
        read_snapshot,
    )
    from hw_kafka_flink_health_spark.streaming.sinks import (
        foreach_batch_versioned_upsert,
    )

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b0.jsonl", "w") as f:
        f.write(_json.dumps({"user_id": 1, "value": 10.0}) + "\n")
        f.write(_json.dumps({"user_id": 2, "value": 20.0}) + "\n")
    t0 = _os.stat(src / "b0.jsonl").st_mtime
    _os.utime(src / "b0.jsonl", (t0 - 60, t0 - 60))
    with open(src / "b1.jsonl", "w") as f:
        f.write(_json.dumps({"user_id": 2, "value": 21.0}) + "\n")
        f.write(_json.dumps({"user_id": 3, "value": 30.0}) + "\n")

    table = str(tmp_path / "tbl")
    reader = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = foreach_batch_versioned_upsert(
        reader, table, str(tmp_path / "ckpt"), ["user_id"]
    )
    q.processAllAvailable()
    q.stop()

    assert current_version(table) == 1  # one version per batch
    assert last_committed_batch(table) == 1
    latest = {(r.user_id, r.value) for r in read_snapshot(spark, table).collect()}
    assert latest == {(1, 10.0), (2, 21.0), (3, 30.0)}
    # history: version 0 is the pre-update state
    v0 = {(r.user_id, r.value) for r in read_snapshot(spark, table, version=0).collect()}
    assert v0 == {(1, 10.0), (2, 20.0)}

    # structural exactly-once: restart the SAME stream on the SAME
    # checkpoint — Structured Streaming replays nothing new, and even if
    # a batch were re-delivered the manifest guard (batch_id <= last)
    # would skip it; the table version must not advance
    before = current_version(table)
    q2 = foreach_batch_versioned_upsert(
        reader, table, str(tmp_path / "ckpt"), ["user_id"]
    )
    q2.processAllAvailable()
    q2.stop()
    assert current_version(table) == before
    assert last_committed_batch(table) == 1


def test_snapshot_read_preserves_pushdown(spark, tmp_path):
    """The versioned read path is a plain parquet scan of the pinned file
    list, so predicate pushdown must survive: PushedFilters shows the
    predicate at the scan, proving time travel costs no plan quality."""
    t = str(tmp_path / "tbl")
    commit_snapshot(
        spark.range(1000).selectExpr("id", "id % 7 AS bucket"), t
    )
    df = read_snapshot(spark, t).filter("bucket = 3")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "bucket" in plan
    assert df.count() == len([i for i in range(1000) if i % 7 == 3])


def test_append_with_evolved_schema_merges_and_old_versions_unchanged(spark, tmp_path):
    """Schema evolution: an append that ADDS a column produces a version
    whose old files surface the new column as NULL; the pre-evolution
    version still reads with the original schema only."""
    t = str(tmp_path / "tbl")
    commit_snapshot(spark.createDataFrame([(1, "a")], ["id", "val"]), t)
    commit_snapshot(
        spark.createDataFrame([(2, "b", 9.5)], ["id", "val", "score"]),
        t,
        mode="append",
    )
    latest = read_snapshot(spark, t)
    assert set(latest.columns) == {"id", "val", "score"}
    rows = {(r.id, r.val, r.score) for r in latest.collect()}
    assert rows == {(1, "a", None), (2, "b", 9.5)}
    v0 = read_snapshot(spark, t, version=0)
    assert set(v0.columns) == {"id", "val"}


def test_manifest_pruning_skips_files_and_matches_full_filter(spark, tmp_path):
    """Iceberg-style metadata pruning: a clustered commit records per-file
    min/max in the manifest; a range read opens ONLY overlapping files
    (proven via _metadata.file_path) and returns exactly what the
    unpruned filter would."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot_clustered,
        read_snapshot_pruned,
    )

    t = str(tmp_path / "tbl")
    commit_snapshot_clustered(
        spark.range(10_000).selectExpr("id", "id % 13 AS payload"),
        t,
        cluster_col="id",
        n_files=8,
    )
    pruned = read_snapshot_pruned(spark, t, lo=100, hi=200)
    got = {r.id for r in pruned.collect()}
    full = {
        r.id
        for r in read_snapshot(spark, t).filter("id BETWEEN 100 AND 200").collect()
    }
    assert got == full == set(range(100, 201))
    # the pruned plan touches at most 2 of the 8 range files
    n_files = (
        pruned.selectExpr("_metadata.file_path AS f").distinct().count()
    )
    assert n_files <= 2, n_files
    # out-of-range probe: empty, but schema preserved
    assert read_snapshot_pruned(spark, t, lo=10**9, hi=2 * 10**9).count() == 0


def test_clustered_append_carries_stats_and_tolerates_unclustered_base(spark, tmp_path):
    """Append-mode clustered commits: (1) stats for carried-over files are
    copied forward from the previous manifest (commit_snapshot writes a
    stats-free manifest, so without the copy every prior file's footer
    was re-read); (2) a base version committed UN-clustered (or clustered
    on a different column) must not fail the append — its files are left
    stat-less and simply unpruned."""
    import json

    from hw_kafka_flink_health_spark.operators.versioned import (
        _manifest_path,
        commit_snapshot_clustered,
        read_snapshot_pruned,
    )

    # --- (2) un-clustered base, then clustered append: must not raise
    t = str(tmp_path / "tbl_uc")
    commit_snapshot(spark.range(100).selectExpr("id", "id % 7 AS payload"), t)
    v1 = commit_snapshot_clustered(
        spark.range(100, 200).selectExpr("id", "id % 7 AS payload"),
        t,
        cluster_col="id",
        n_files=4,
        mode="append",
    )
    with open(_manifest_path(t, v1)) as f:
        m1 = json.load(f)
    # new files have stats; base-version files may not — and pruned reads
    # still return the full correct result (stat-less files never pruned)
    new_files = [n for n in m1["files"] if n.startswith("data-v1-")]
    assert new_files and all(n in m1["stats"] for n in new_files)
    got = {r.id for r in read_snapshot_pruned(spark, t, lo=50, hi=150).collect()}
    assert got == set(range(50, 151))

    # --- (1) clustered base, clustered append: prior stats copied forward
    t2 = str(tmp_path / "tbl_cc")
    commit_snapshot_clustered(
        spark.range(1000).selectExpr("id"), t2, cluster_col="id", n_files=4
    )
    with open(_manifest_path(t2, 0)) as f:
        stats0 = json.load(f)["stats"]
    v1 = commit_snapshot_clustered(
        spark.range(1000, 2000).selectExpr("id"),
        t2,
        cluster_col="id",
        n_files=4,
        mode="append",
    )
    with open(_manifest_path(t2, v1)) as f:
        m1 = json.load(f)
    for name, mm in stats0.items():
        assert m1["stats"][name] == mm  # carried forward verbatim
    # pruning works across both generations
    assert {
        r.id for r in read_snapshot_pruned(spark, t2, lo=900, hi=1100).collect()
    } == set(range(900, 1101))


def test_clustered_append_ignores_stats_of_another_column(spark, tmp_path):
    """A clustered append carries the base's per-file stats only when the
    base is clustered on the same column: stats on `k` recorded under
    `cluster_col = id` would make a pruned read on `id` drop base files
    whose rows match."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot_clustered,
        read_snapshot_pruned,
    )

    t = str(tmp_path / "xcol")
    commit_snapshot_clustered(
        spark.range(100).selectExpr("id", "1000 + id AS k"), t, cluster_col="k", n_files=2
    )
    commit_snapshot_clustered(
        spark.range(100, 200).selectExpr("id", "id AS k"),
        t,
        cluster_col="id",
        n_files=2,
        mode="append",
    )
    got = {r.id for r in read_snapshot_pruned(spark, t, lo=0, hi=99).collect()}
    assert got == set(range(100))


def test_vacuum_tolerates_already_dropped_manifests(spark, tmp_path):
    """A vacuum with keep_last=1 deletes older manifests; a LATER vacuum
    with a larger keep_last must not FileNotFoundError on the gap — it
    retains what is still reachable."""
    t = str(tmp_path / "tbl")
    for i in range(4):
        commit_snapshot(spark.range(i * 10, i * 10 + 10), t)
    vacuum(t, keep_last=1)  # drops manifests v0..v2
    deleted = vacuum(t, keep_last=3)  # previously raised FileNotFoundError
    assert deleted == []  # nothing newly unreachable
    assert {r.id for r in read_snapshot(spark, t).collect()} == set(range(30, 40))


def test_zorder_prunes_on_every_clustered_dimension(spark, tmp_path):
    """Z-order clustering: with files laid out by the interleaved-bits
    Z-value of (x, y), a selective predicate on x ALONE and one on y
    ALONE must each skip most files (a 1-column sort can only ever prune
    its own column), and 2-D pruned reads must return exactly what the
    unpruned filter would."""
    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot_zordered,
        read_snapshot_pruned_2d,
    )

    t = str(tmp_path / "ztbl")
    # decorrelated dims: y is a modular bit-reversal-ish shuffle of x
    df = spark.range(20_000).selectExpr(
        "id AS x", "(id * 7919) % 20000 AS y", "id % 97 AS payload"
    )
    commit_snapshot_zordered(df, t, cluster_cols=["x", "y"], n_files=16)

    def files_touched(d):
        return d.selectExpr("_metadata.file_path AS f").distinct().count()

    # 10% slab on x only
    px = read_snapshot_pruned_2d(spark, t, {"x": (0, 1999)})
    assert {r.x for r in px.collect()} == set(range(2000))
    assert files_touched(px) <= 8, files_touched(px)
    # 10% slab on y only — the dimension a linear sort would NOT prune
    py = read_snapshot_pruned_2d(spark, t, {"y": (0, 1999)})
    assert {r.y for r in py.collect()} == set(range(0, 20000, 1)) & {
        (i * 7919) % 20000 for i in range(20000) if (i * 7919) % 20000 < 2000
    }
    assert files_touched(py) <= 8, files_touched(py)
    # conjunctive 2-D read == full filter
    both = read_snapshot_pruned_2d(spark, t, {"x": (0, 4999), "y": (0, 4999)})
    expect = {
        (i, (i * 7919) % 20000)
        for i in range(5000)
        if (i * 7919) % 20000 <= 4999
    }
    assert {(r.x, r.y) for r in both.collect()} == expect
    assert files_touched(both) <= 6, files_touched(both)
    # out-of-range: empty, schema preserved
    assert read_snapshot_pruned_2d(spark, t, {"x": (10**9, 2 * 10**9)}).count() == 0


def test_compaction_preserves_content_history_and_stats(spark, tmp_path):
    """OPTIMIZE: many tiny appended files -> one compaction commit.
    Content must be identical, the file count must drop, the PRE-compaction
    version must still time-travel, big files must be carried (not
    rewritten), and a clustered table's manifest stats must survive so
    pruned reads still work afterwards."""
    import json as _json
    import os as _os

    from hw_kafka_flink_health_spark.operators.versioned import (
        _manifest_path,
        commit_snapshot,
        compact_snapshot,
        current_version,
        read_snapshot,
        vacuum,
    )

    t = str(tmp_path / "ctbl")
    for i in range(6):  # 6 tiny single-file commits
        commit_snapshot(
            spark.range(i * 10, i * 10 + 10).coalesce(1), t, mode="append"
        )
    v_before = current_version(t)
    with open(_manifest_path(t, v_before)) as f:
        n_files_before = len(_json.load(f)["files"])
    assert n_files_before >= 6

    v_after = compact_snapshot(spark, t, small_file_bytes=8 * 1024 * 1024)
    assert v_after == v_before + 1
    with open(_manifest_path(t, v_after)) as f:
        files_after = _json.load(f)["files"]
    assert len(files_after) < n_files_before
    # content identical
    assert {r.id for r in read_snapshot(spark, t).collect()} == set(range(60))
    # pre-compaction version still readable (time travel preserved)
    assert {
        r.id for r in read_snapshot(spark, t, version=v_before).collect()
    } == set(range(60))
    # vacuum with retention 1 now reclaims the small files
    deleted = vacuum(t, keep_last=1)
    assert deleted  # the tiny pre-compaction files went away
    assert {r.id for r in read_snapshot(spark, t).collect()} == set(range(60))
    # idempotence: nothing left to compact -> same version returned
    assert compact_snapshot(spark, t, small_file_bytes=8 * 1024 * 1024) in (
        v_after,
        v_after + 1,
    )


def test_compaction_recomputes_clustered_stats(spark, tmp_path):
    """Compacting a CLUSTERED table must keep manifest pruning working:
    carried big files keep their stats, compacted files get fresh
    footer-derived stats."""
    import json as _json

    from hw_kafka_flink_health_spark.operators.versioned import (
        _manifest_path,
        commit_snapshot_clustered,
        compact_snapshot,
        read_snapshot_pruned,
    )

    t = str(tmp_path / "cstbl")
    commit_snapshot_clustered(
        spark.range(1000).selectExpr("id"), t, cluster_col="id", n_files=4
    )
    commit_snapshot_clustered(
        spark.range(1000, 1010).selectExpr("id"),
        t,
        cluster_col="id",
        n_files=4,
        mode="append",
    )
    v = compact_snapshot(spark, t, small_file_bytes=1024 * 1024)
    with open(_manifest_path(t, v)) as f:
        m = _json.load(f)
    assert m["cluster_col"] == "id"
    # every file still has stats -> pruning stays tight and correct
    assert set(m["stats"]) == set(m["files"])
    got = {r.id for r in read_snapshot_pruned(spark, t, lo=100, hi=200).collect()}
    assert got == set(range(100, 201))


def test_occ_concurrent_appends_never_share_a_version(spark, tmp_path):
    """Optimistic concurrency: parallel appenders race on the version
    claim; losers must retry onto the winner's file list. No version may
    be claimed twice, the pointer is the max committed version, and the
    final snapshot is the exact union of every appended batch."""
    from concurrent.futures import ThreadPoolExecutor

    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot,
        current_version,
        read_snapshot,
    )

    t = str(tmp_path / "occ")

    def append(i: int) -> int:
        return commit_snapshot(
            spark.range(i * 100, i * 100 + 100).coalesce(1), t, mode="append"
        )

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = sorted(ex.map(append, range(6)))
    assert versions == list(range(6))  # unique AND contiguous
    assert current_version(t) == 5
    got = {r.id for r in read_snapshot(spark, t).collect()}
    assert got == set(range(0, 600)).intersection(
        {i * 100 + j for i in range(6) for j in range(100)}
    )
    assert len(got) == 600


def test_occ_expect_version_raises_on_stale_base(spark, tmp_path):
    """Compare-and-swap commits: a writer that derived its change from
    version N must fail (not clobber, not silently rebase) when the table
    has moved past N."""
    import pytest

    from hw_kafka_flink_health_spark.operators.versioned import (
        VersionConflictError,
        _publish_manifest,
        commit_snapshot,
        compact_snapshot,
        read_snapshot,
    )

    t = str(tmp_path / "cas")
    commit_snapshot(spark.range(10), t)  # v0
    commit_snapshot(spark.range(10, 20), t, mode="append")  # v1
    # stale base: table is at v1, writer expected v0
    with pytest.raises(VersionConflictError):
        commit_snapshot(spark.range(99), t, expect_version=0)
    # race on the claim itself: v2 taken between read and publish
    assert _publish_manifest(t, 2, {"version": 2, "files": []})
    with pytest.raises(VersionConflictError):
        commit_snapshot(spark.range(99), t, expect_version=1)
    # table content unharmed
    assert {r.id for r in read_snapshot(spark, t, version=1).collect()} == set(range(20))
    # a plain append (no CAS pin) legally retries PAST the claimed
    # versions 2 and 3 rather than failing — many tiny files pile up
    from hw_kafka_flink_health_spark.operators.versioned import current_version

    for i in range(4):
        commit_snapshot(spark.range(i, i + 1).coalesce(1), t, mode="append")
    v = current_version(t)
    assert v >= 4  # skipped over the externally claimed version numbers
    # compaction that loses ITS claim reports the conflict instead of
    # clobbering: pre-claim the version compaction would take
    assert _publish_manifest(t, v + 1, {"version": v + 1, "files": []})
    with pytest.raises(VersionConflictError):
        compact_snapshot(spark, t, small_file_bytes=1024 * 1024)


def test_deletion_vectors_roundtrip_timetravel_and_compaction_purge(spark, tmp_path):
    """Row-level delete via deletion vectors: O(matched) sidecar commits,
    data files untouched (prior versions still see the rows), reads
    anti-join the vectors out, double deletes stay tight, compaction
    PURGES vectors for rewritten files, and vacuum honors dv
    reachability."""
    import json as _json

    from hw_kafka_flink_health_spark.operators.versioned import (
        _manifest_path,
        commit_snapshot,
        compact_snapshot,
        current_version,
        delete_where,
        read_snapshot,
        vacuum,
    )

    t = str(tmp_path / "dvtbl")
    commit_snapshot(spark.range(100).selectExpr("id", "id % 10 AS k"), t)  # v0
    v0_files = set(_json.load(open(_manifest_path(t, 0)))["files"])

    v1 = delete_where(spark, t, "k = 3")  # 10 rows out
    assert v1 == 1
    with open(_manifest_path(t, 1)) as f:
        m1 = _json.load(f)
    assert set(m1["files"]) == v0_files  # data files SHARED, not rewritten
    assert m1["dv"], "delete must record a deletion-vector sidecar"
    assert {r.id for r in read_snapshot(spark, t).collect()} == {
        i for i in range(100) if i % 10 != 3
    }
    # time travel: v0 still sees every row
    assert read_snapshot(spark, t, version=0).count() == 100

    # second delete appends to the vector set; already-deleted rows are
    # not re-recorded (the sidecar stays tight)
    v2 = delete_where(spark, t, "k IN (3, 7)")
    got = {r.id for r in read_snapshot(spark, t).collect()}
    assert got == {i for i in range(100) if i % 10 not in (3, 7)}
    dv_rows = spark.read.parquet(
        *[f"{t}/{p}" for p in _json.load(open(_manifest_path(t, v2)))["dv"]]
    )
    assert dv_rows.count() == 20  # 10 + 10, no duplicates for k=3

    # no-op delete: nothing matches -> same version back
    assert delete_where(spark, t, "k = 99") == v2

    # compaction purges: rows vanish physically, dv entries dropped
    v3 = compact_snapshot(spark, t, small_file_bytes=64 * 1024 * 1024)
    assert v3 == v2 + 1
    with open(_manifest_path(t, v3)) as f:
        m3 = _json.load(f)
    assert "dv" not in m3  # every file was rewritten -> no vectors left
    assert {r.id for r in read_snapshot(spark, t).collect()} == got
    # vacuum away history; current content unchanged
    vacuum(t, keep_last=1)
    assert {r.id for r in read_snapshot(spark, t).collect()} == got
    assert current_version(t) == v3


def test_deletion_vectors_with_pruned_reads(spark, tmp_path):
    """DV application composes with manifest pruning: a clustered table
    with deletes returns exactly full-filter-minus-deleted through the
    pruned read path."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot_clustered,
        delete_where,
        read_snapshot_pruned,
    )

    t = str(tmp_path / "dvprune")
    commit_snapshot_clustered(
        spark.range(10_000).selectExpr("id"), t, cluster_col="id", n_files=8
    )
    delete_where(spark, t, "id % 2 = 1")
    got = {r.id for r in read_snapshot_pruned(spark, t, lo=100, hi=200).collect()}
    assert got == {i for i in range(100, 201) if i % 2 == 0}


def test_merge_into_upsert_delete_and_history(spark, tmp_path):
    """MERGE INTO (merge-on-read): update tombstones old rows via DV and
    appends replacements, inserts append, delete-mode removes matched
    rows; one version per merge; history intact; duplicate source keys
    rejected."""
    import pytest

    from hw_kafka_flink_health_spark.operators.versioned import (
        VersionConflictError,
        _publish_manifest,
        commit_snapshot,
        current_version,
        delete_where,
        merge_into,
        read_snapshot,
    )

    t = str(tmp_path / "mrg")
    commit_snapshot(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "tag", "val"]
        ),
        t,
    )  # v0
    # upsert: update id=2, insert id=4
    src = spark.createDataFrame([(2, "B", 21.0), (4, "d", 40.0)], ["id", "tag", "val"])
    v1 = merge_into(spark, t, src, ["id"])
    assert v1 == 1
    got = {(r.id, r.tag, r.val) for r in read_snapshot(spark, t).collect()}
    assert got == {(1, "a", 10.0), (2, "B", 21.0), (3, "c", 30.0), (4, "d", 40.0)}
    # history: v0 is untouched
    assert {(r.id, r.tag) for r in read_snapshot(spark, t, version=0).collect()} == {
        (1, "a"), (2, "b"), (3, "c")
    }

    # delete-mode merge: remove ids 1 and 3; unmatched source id 99 ignored
    v2 = merge_into(
        spark,
        t,
        spark.createDataFrame([(1,), (3,), (99,)], ["id"]),
        ["id"],
        when_matched="delete",
        when_not_matched="ignore",
    )
    assert v2 == 2
    assert {(r.id, r.val) for r in read_snapshot(spark, t).collect()} == {
        (2, 21.0), (4, 40.0)
    }

    # update-only merge (no inserts): unmatched source rows dropped
    v3 = merge_into(
        spark,
        t,
        spark.createDataFrame([(2, "BB", 22.0), (7, "x", 0.0)], ["id", "tag", "val"]),
        ["id"],
        when_not_matched="ignore",
    )
    assert {(r.id, r.tag, r.val) for r in read_snapshot(spark, t).collect()} == {
        (2, "BB", 22.0), (4, "d", 40.0)
    }
    # merge composes with standalone deletes
    delete_where(spark, t, "id = 4")
    assert {r.id for r in read_snapshot(spark, t).collect()} == {2}

    # duplicate source keys: rejected (SQL MERGE multiple-match error)
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_into(
            spark,
            t,
            spark.createDataFrame([(2, "x", 1.0), (2, "y", 2.0)], ["id", "tag", "val"]),
            ["id"],
        )
    # no-op merge: nothing matched, nothing to insert -> version unchanged
    v = current_version(t)
    assert (
        merge_into(
            spark,
            t,
            spark.createDataFrame([(42,)], ["id"]),
            ["id"],
            when_matched="delete",
            when_not_matched="ignore",
        )
        == v
    )
    # lost claim -> conflict, staged files cleaned up
    assert _publish_manifest(t, v + 1, {"version": v + 1, "files": []})
    with pytest.raises(VersionConflictError):
        merge_into(
            spark,
            t,
            spark.createDataFrame([(2, "z", 9.0)], ["id", "tag", "val"]),
            ["id"],
        )


def test_vacuum_sweeps_aged_crash_debris_only(spark, tmp_path):
    """A crashed writer's staging dir / manifest temp must be reclaimed by
    vacuum once AGED, while fresh ones (possibly an in-flight commit)
    survive; unreferenced data files from the crash are reclaimed by the
    normal reachability rule."""
    import os as _os

    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot,
        read_snapshot,
        vacuum,
    )

    t = str(tmp_path / "crash")
    commit_snapshot(spark.range(10), t)
    # simulate a crash: staged dir + manifest temp + an orphan data file
    _os.makedirs(f"{t}/_staging-deadbeef")
    open(f"{t}/_staging-deadbeef/part-x.parquet", "w").write("x")
    open(f"{t}/_manifest-tmp-deadbeef", "w").write("{}")
    open(f"{t}/data-v9-orphan.parquet", "w").write("x")
    # fresh debris survives a vacuum — including the NEVER-REFERENCED
    # data file, which could be a concurrent commit that has moved its
    # parts in but not yet claimed a manifest (deleting it would destroy
    # that commit's data)
    vacuum(t, keep_last=2)
    assert _os.path.isdir(f"{t}/_staging-deadbeef")
    assert _os.path.exists(f"{t}/_manifest-tmp-deadbeef")
    assert _os.path.exists(f"{t}/data-v9-orphan.parquet")
    # age everything past the TTL -> swept
    old = _os.path.getmtime(f"{t}/_manifest-tmp-deadbeef") - 7200
    for p_ in ("_staging-deadbeef", "_manifest-tmp-deadbeef", "data-v9-orphan.parquet"):
        _os.utime(f"{t}/{p_}", (old, old))
    vacuum(t, keep_last=2)
    assert not _os.path.exists(f"{t}/_staging-deadbeef")
    assert not _os.path.exists(f"{t}/_manifest-tmp-deadbeef")
    assert not _os.path.exists(f"{t}/data-v9-orphan.parquet")
    assert {r.id for r in read_snapshot(spark, t).collect()} == set(range(10))


def test_read_version_delta_is_file_level_and_guards_non_append(spark, tmp_path):
    """The manifest diff is the change feed: the delta read opens ONLY the
    newer version's added files (proven via _metadata), returns exactly
    the appended rows, and refuses spans where files were removed or
    deletion vectors changed (no file-level representation of removals)."""
    import pytest

    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot,
        delete_where,
        read_version_delta,
    )

    t = str(tmp_path / "delta")
    commit_snapshot(spark.range(100).selectExpr("id"), t)  # v0
    commit_snapshot(spark.range(100, 150).selectExpr("id"), t, mode="append")  # v1
    d = read_version_delta(spark, t, 0, 1)
    assert {r.id for r in d.collect()} == set(range(100, 150))
    # file-level: only v1's files are opened
    touched = {
        r.f.rsplit("/", 1)[-1]
        for r in d.selectExpr("_metadata.file_path AS f").distinct().collect()
    }
    assert all(name.startswith("data-v1-") for name in touched), touched
    # empty span: schema preserved, zero rows
    assert read_version_delta(spark, t, 1, 1).count() == 0
    # a delete breaks the append-only property -> explicit refusal
    delete_where(spark, t, "id < 10")  # v2
    with pytest.raises(ValueError, match="append-only"):
        read_version_delta(spark, t, 1, 2)


def test_stale_pointer_lock_is_stolen(spark, tmp_path):
    """A crashed writer's abandoned _latest.lock must not deadlock future
    commits: locks older than the staleness bound are stolen."""
    import os as _os

    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot,
        current_version,
    )

    t = str(tmp_path / "lk")
    commit_snapshot(spark.range(5), t)
    # simulate the crash: abandoned lock, backdated past the 30 s bound
    lock = f"{t}/_latest.lock"
    open(lock, "w").close()
    old = _os.path.getmtime(lock) - 120
    _os.utime(lock, (old, old))
    v = commit_snapshot(spark.range(5, 10), t, mode="append")  # must not hang
    assert v == 1 and current_version(t) == 1


def test_commit_check_constraint_rejects_before_publish(spark, tmp_path):
    """CHECK constraints: a violating commit publishes NOTHING (version
    unchanged, no orphan manifest), NULL check results count as
    violations (SQL CHECK accepts only TRUE... here the strict table-
    boundary reading), and clean commits pass through."""
    import pytest

    from hw_kafka_flink_health_spark.operators.versioned import (
        ConstraintViolationError,
        commit_snapshot_checked,
        current_version,
        read_snapshot,
    )

    t = str(tmp_path / "chk")
    commit_snapshot_checked(
        spark.range(10).selectExpr("id", "id * 2 AS v"), t, check="v >= 0"
    )
    assert current_version(t) == 0
    with pytest.raises(ConstraintViolationError, match=r"CHECK \(v >= 0\)"):
        commit_snapshot_checked(
            spark.range(5).selectExpr("id", "id - 3 AS v"), t, check="v >= 0"
        )
    assert current_version(t) == 0  # nothing published
    # NULL check result = violation (strict boundary)
    with pytest.raises(ConstraintViolationError):
        commit_snapshot_checked(
            spark.createDataFrame([(1, None)], "id long, v long"), t, check="v >= 0"
        )
    assert {r.id for r in read_snapshot(spark, t).collect()} == set(range(10))


def test_append_after_delete_preserves_deletion_vectors(spark, tmp_path):
    """Regression (round-5 review): an append commit rebuilt the manifest
    from the base's 'files' only, silently dropping 'dv' — every deleted
    row RESURRECTED in the appended version. Appends (plain and
    clustered) must carry the base's deletion vectors forward; overwrite
    correctly discards them."""
    import json as _json

    from hw_kafka_flink_health_spark.operators.versioned import (
        _manifest_path,
        commit_snapshot,
        commit_snapshot_clustered,
        current_version,
        delete_where,
        read_snapshot,
    )

    t = str(tmp_path / "advtbl")
    commit_snapshot(spark.range(100).selectExpr("id", "id % 10 AS k"), t)  # v0
    delete_where(spark, t, "k = 3")  # v1: 10 rows tombstoned
    commit_snapshot(
        spark.range(100, 120).selectExpr("id", "id % 10 AS k"), t, mode="append"
    )  # v2
    with open(_manifest_path(t, 2)) as f:
        assert _json.load(f)["dv"], "append dropped the deletion vectors"
    got = {r.id for r in read_snapshot(spark, t).collect()}
    assert got == {i for i in range(120) if not (i < 100 and i % 10 == 3)}
    # clustered append over a deleted base keeps them too
    commit_snapshot_clustered(
        spark.range(120, 140).selectExpr("id", "id % 10 AS k"),
        t,
        cluster_col="id",
        n_files=2,
        mode="append",
    )  # v3
    got3 = {r.id for r in read_snapshot(spark, t).collect()}
    assert got3 == {i for i in range(140) if not (i < 100 and i % 10 == 3)}
    # overwrite discards vectors (table replaced wholesale)
    commit_snapshot(spark.range(5), t)
    v = current_version(t)
    with open(_manifest_path(t, v)) as f:
        assert "dv" not in _json.load(f)


def test_compaction_preserves_streaming_batch_marker(spark, tmp_path):
    """Regression (round-5 review): compaction rebuilt its manifest from
    scratch and dropped batch_id, so last_committed_batch returned None
    and a checkpoint replay would re-apply an already-committed batch.
    Maintenance must carry the exactly-once marker forward."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot,
        compact_snapshot,
        last_committed_batch,
    )

    t = str(tmp_path / "bmtbl")
    for i in range(4):
        commit_snapshot(
            spark.range(i * 5, i * 5 + 5).coalesce(1), t, mode="append", batch_id=i
        )
    assert last_committed_batch(t) == 3
    compact_snapshot(spark, t, small_file_bytes=8 * 1024 * 1024)
    assert last_committed_batch(t) == 3


def test_vacuum_retains_in_flight_claimed_manifest(spark, tmp_path):
    """Regression (round-5 advice, medium): vacuum's retained range spanned
    only [latest-keep_last+1, latest], so a manifest CLAIMED past the
    pointer (publish done, pointer flip pending) was deleted outright and
    its data files — 'referenced but not retained' — were reclaimed
    immediately, bypassing the orphan TTL and bricking the in-flight
    commit. Manifests with version > latest must be retained with their
    files."""
    import json as _json
    import os as _os

    from hw_kafka_flink_health_spark.operators.versioned import (
        _manifest_path,
        _publish_manifest,
        _stage_parquet,
        commit_snapshot,
        read_snapshot,
        vacuum,
    )

    t = str(tmp_path / "inflight")
    commit_snapshot(spark.range(10), t)  # v0 (pointer -> 0)
    # simulate a writer paused between _publish_manifest and
    # _advance_pointer: v1 is claimed and content-complete, pointer still 0
    staged = _stage_parquet(spark.range(10, 15), t, "data", 1)
    assert _publish_manifest(t, 1, {"version": 1, "files": staged})
    # age EVERYTHING so no TTL guard can be what saves the commit
    for name in _os.listdir(t):
        p = _os.path.join(t, name)
        old = _os.path.getmtime(p) - 7200
        _os.utime(p, (old, old))
    vacuum(t, keep_last=1, orphan_ttl_seconds=3600.0)
    assert _os.path.exists(_manifest_path(t, 1))
    for name in staged:
        assert _os.path.exists(_os.path.join(t, name)), name
    # the paused writer resumes: its commit is intact and readable
    from hw_kafka_flink_health_spark.operators.versioned import _advance_pointer

    _advance_pointer(t, 1)
    assert {r.id for r in read_snapshot(spark, t).collect()} == set(range(10, 15))
    # once the pointer has passed it, ordinary retention reclaims it
    commit_snapshot(spark.range(20, 25), t)  # v2
    vacuum(t, keep_last=1, orphan_ttl_seconds=0.0)
    assert not _os.path.exists(_manifest_path(t, 1))


def test_resumed_holder_never_deletes_successors_lock(spark, tmp_path, monkeypatch):
    """Regression (round-5 advice): _advance_pointer's finally ran
    os.remove(lock) unconditionally, so a holder that stalled past the
    30 s steal bound deleted the SUCCESSOR holder's fresh lock on resume,
    re-opening the two-writers window. With the holder-token check the
    resumed writer must leave the successor's lock alone (and not raise
    when its own lock is simply gone)."""
    import os as _os

    import hw_kafka_flink_health_spark.operators.versioned as V

    t = str(tmp_path / "locktbl")
    _os.makedirs(t)
    lock = _os.path.join(t, "_latest.lock")

    real_cv = V.current_version
    stolen = {"done": False}

    def steal_mid_critical_section(table_dir):
        # runs INSIDE writer-1's critical section: simulate the >30 s stall
        # during which a stealer renames the lock away and a successor
        # writer re-creates it with its own token
        if not stolen["done"]:
            stolen["done"] = True
            _os.rename(lock, lock + ".stale-x")
            _os.remove(lock + ".stale-x")
            with open(lock, "wb") as f:
                f.write(b"successor-token")
        return real_cv(table_dir)

    monkeypatch.setattr(V, "current_version", steal_mid_critical_section)
    V._advance_pointer(t, 0)  # must complete without touching the new lock
    monkeypatch.setattr(V, "current_version", real_cv)

    assert _os.path.exists(lock)
    with open(lock, "rb") as f:
        assert f.read() == b"successor-token"
    assert V.current_version(t) == 0  # the pointer write itself happened
    _os.remove(lock)

    # and when the stolen lock is GONE at release (no successor yet), the
    # resumed holder must not raise FileNotFoundError after a successful
    # pointer write
    stolen2 = {"done": False}

    def steal_without_successor(table_dir):
        if not stolen2["done"]:
            stolen2["done"] = True
            _os.rename(lock, lock + ".stale-y")
            _os.remove(lock + ".stale-y")
        return real_cv(table_dir)

    monkeypatch.setattr(V, "current_version", steal_without_successor)
    V._advance_pointer(t, 1)
    assert V.current_version(t) == 1


def test_conflict_paths_unstage_their_files(spark, tmp_path):
    """Regression (round-5 advice): commit_snapshot left staged data-v*
    files orphaned when raising VersionConflictError (CAS failure and
    retry exhaustion), unlike every sibling DML path. Both raise paths
    must clean up after themselves."""
    import os as _os

    import pytest

    from hw_kafka_flink_health_spark.operators.versioned import (
        VersionConflictError,
        _publish_manifest,
        commit_snapshot,
    )

    t = str(tmp_path / "occlean")
    commit_snapshot(spark.range(5), t)  # v0

    def data_files():
        return {n for n in _os.listdir(t) if n.startswith("data-")}

    before = data_files()
    # CAS path: pre-claim v1 so the expect_version commit loses its claim
    _publish_manifest(t, 1, {"version": 1, "files": []})
    with pytest.raises(VersionConflictError):
        commit_snapshot(spark.range(5, 9), t, expect_version=0)
    assert data_files() == before, "CAS-failure path leaked staged files"

    # retry-exhaustion path: every version it could try is pre-claimed
    for v in range(2, 6):
        _publish_manifest(t, v, {"version": v, "files": []})
    with pytest.raises(VersionConflictError, match="gave up"):
        commit_snapshot(spark.range(9, 12), t, max_retries=3)
    assert data_files() == before, "retry-exhaustion path leaked staged files"


def test_restore_is_metadata_only_preserves_history_and_drops_dv(spark, tmp_path):
    import json

    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.operators.versioned import (
        _manifest_path,
        delete_where,
        restore_snapshot,
    )

    t = str(tmp_path / "tbl")
    commit_snapshot(spark.range(10).selectExpr("id", "id * 3 AS v"), t)  # v0
    commit_snapshot(
        spark.range(10, 15).selectExpr("id", "id * 3 AS v"), t, mode="append"
    )  # v1
    delete_where(spark, t, F.col("id") >= 5)  # v2: destructive oops
    assert {r.id for r in read_snapshot(spark, t).collect()} == set(range(5))

    files_before = {
        f for f in os.listdir(t) if f.startswith("data-") and f.endswith(".parquet")
    }
    v3 = restore_snapshot(t, 1)
    assert v3 == 3 and current_version(t) == 3

    # metadata-only: not one new data file was written
    files_after = {
        f for f in os.listdir(t) if f.startswith("data-") and f.endswith(".parquet")
    }
    assert files_after == files_before

    # latest == v1's logical content (the delete's dv must NOT leak in)
    assert {r.id for r in read_snapshot(spark, t).collect()} == set(range(15))
    # the manifest records provenance and shares v1's exact file list
    with open(_manifest_path(t, 3)) as f:
        m3 = json.load(f)
    with open(_manifest_path(t, 1)) as f:
        m1 = json.load(f)
    assert m3["restored_from"] == 1 and m3["files"] == m1["files"]
    assert "dv" not in m3

    # history preserved: the bad v2 is still auditable by time travel
    assert {r.id for r in read_snapshot(spark, t, version=2).collect()} == set(
        range(5)
    )

    # restoring the restore (to the deleted state) also works — dv carried
    v4 = restore_snapshot(t, 2)
    assert {r.id for r in read_snapshot(spark, t, version=v4).collect()} == set(
        range(5)
    )


def test_restore_carries_batch_id_and_pruning_stats(spark, tmp_path):
    import json

    from hw_kafka_flink_health_spark.operators.versioned import (
        _manifest_path,
        commit_snapshot_clustered,
        last_committed_batch,
        restore_snapshot,
    )

    t = str(tmp_path / "tbl")
    commit_snapshot_clustered(
        spark.range(100).selectExpr("id", "id * 2 AS v"),
        t,
        cluster_col="id",
        n_files=4,
    )  # v0 with pruning stats
    commit_snapshot(
        spark.range(5).selectExpr("id + 1000 AS id", "id AS v"), t, batch_id=7
    )  # v1: a streaming-sink overwrite carrying its batch marker
    assert last_committed_batch(t) == 7

    # restore to the clustered v0: pruning stats must survive so pruned
    # reads keep skipping files instead of silently full-scanning
    v2 = restore_snapshot(t, 0)
    with open(_manifest_path(t, v2)) as f:
        m2 = json.load(f)
    with open(_manifest_path(t, 0)) as f:
        m0 = json.load(f)
    assert m2["stats"] == m0["stats"] and m2["cluster_col"] == m0["cluster_col"]
    # v0 had no batch marker, so none must be invented
    assert "batch_id" not in m2 and last_committed_batch(t) is None

    # restore to the batch-marked v1: the exactly-once marker must carry,
    # so a checkpoint replay of batch 7 is still structurally skipped
    restore_snapshot(t, 1)
    assert last_committed_batch(t) == 7


def test_tag_pins_version_against_vacuum(spark, tmp_path):
    from hw_kafka_flink_health_spark.operators.versioned import (
        create_tag,
        delete_tag,
        list_tags,
    )

    t = str(tmp_path / "tbl")
    commit_snapshot(spark.range(4).selectExpr("id"), t)  # v0
    create_tag(t, "train-run-1")  # pins v0 (latest at tag time)
    commit_snapshot(spark.range(10, 13).selectExpr("id"), t)  # v1
    commit_snapshot(spark.range(20, 22).selectExpr("id"), t)  # v2
    assert list_tags(t) == {"train-run-1": 0}

    # retention would drop v0 and v1; the tag must keep v0 whole
    vacuum(t, keep_last=1, orphan_ttl_seconds=0.0)
    assert os.path.exists(os.path.join(t, "manifest-v0.json"))
    assert not os.path.exists(os.path.join(t, "manifest-v1.json"))
    assert {r.id for r in read_snapshot(spark, t, tag="train-run-1").collect()} == {
        0, 1, 2, 3,
    }
    # latest is untouched
    assert {r.id for r in read_snapshot(spark, t).collect()} == {20, 21}

    # dropping the tag re-enters ordinary retention
    delete_tag(t, "train-run-1")
    vacuum(t, keep_last=1, orphan_ttl_seconds=0.0)
    assert not os.path.exists(os.path.join(t, "manifest-v0.json"))


def test_tag_name_rules_and_overwrite(spark, tmp_path):
    import pytest

    from hw_kafka_flink_health_spark.operators.versioned import create_tag, list_tags

    t = str(tmp_path / "tbl")
    commit_snapshot(spark.range(2).selectExpr("id"), t)  # v0
    commit_snapshot(spark.range(3).selectExpr("id"), t)  # v1
    create_tag(t, "baseline", version=0)
    with pytest.raises(ValueError):  # duplicate without overwrite
        create_tag(t, "baseline", version=1)
    create_tag(t, "baseline", version=1, overwrite=True)
    assert list_tags(t)["baseline"] == 1
    with pytest.raises(FileNotFoundError):  # tagging a missing version
        create_tag(t, "ghost", version=99)
    with pytest.raises(KeyError):  # reading an unknown tag
        read_snapshot(spark, t, tag="nope")


def test_multi_writer_commit_vacuum_restore_tag_stress(spark, tmp_path):
    """Round-6 verdict item 8: the protocol pieces (steal-safe locks,
    in-flight manifest retention, staged-file cleanup, tag pinning,
    restore guard tags) are each unit-tested — this proves they COMPOSE.
    4 threads × 30 seeded-random ops (commit/append, vacuum, restore,
    tag create/delete, snapshot read) interleave freely; afterwards the
    table must satisfy every structural invariant the module advertises:
    a readable latest whose files all exist, no dangling tag, every
    surviving tagged version readable, and all of that still true after
    a final aggressive vacuum."""
    import json as _json
    import os as _os
    import random
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from hw_kafka_flink_health_spark.operators.versioned import (
        MergeConflictError,
        VersionConflictError,
        _manifest_path,
        commit_snapshot,
        commit_to_branch,
        create_branch,
        create_tag,
        current_version,
        delete_branch,
        delete_tag,
        list_branches,
        list_tags,
        merge_branch,
        read_snapshot,
        restore_snapshot,
        vacuum,
    )

    t = str(tmp_path / "stress")
    commit_snapshot(spark.range(10).coalesce(1), t)  # v0 so readers never race an empty table
    unexpected: list[str] = []
    seen_versions: list[int] = [0]
    my_tags: list[str] = []
    tag_lock = threading.Lock()

    def worker(wid: int) -> None:
        rng = random.Random(1000 + wid)
        for step in range(30):
            op = rng.choices(
                ["commit", "vacuum", "restore", "tag", "read", "branch"],
                weights=[30, 18, 13, 17, 9, 13],
            )[0]
            try:
                if op == "commit":
                    v = commit_snapshot(
                        spark.range(wid * 1000 + step, wid * 1000 + step + 2).coalesce(1),
                        t,
                        mode=rng.choice(["append", "overwrite"]),
                    )
                    seen_versions.append(v)
                elif op == "vacuum":
                    vacuum(t, keep_last=2)
                elif op == "restore":
                    v = restore_snapshot(t, rng.choice(seen_versions[-8:]))
                    seen_versions.append(v)
                elif op == "tag":
                    with tag_lock:
                        drop = my_tags and rng.random() < 0.5
                        name = my_tags.pop() if drop else f"t-{wid}-{step}"
                    if drop:
                        delete_tag(t, name)
                    else:
                        create_tag(t, name)
                        with tag_lock:
                            my_tags.append(name)
                elif op == "read":
                    try:
                        assert read_snapshot(spark, t).count() >= 0
                    except Exception as e:  # noqa: BLE001
                        # a reader whose plan-time file list aged out of
                        # keep_last=2 mid-scan is the DOCUMENTED
                        # retention hazard (read_snapshot docstring /
                        # Delta's VACUUM rule) — only that exact cause
                        # is acceptable here
                        if not any(
                            s in str(e)
                            for s in (
                                "FileNotFoundException",
                                "FAILED_READ_FILE",  # Spark 4 wrapper class
                                "PATH_NOT_FOUND",
                                "UNABLE_TO_INFER_SCHEMA",  # every file swept
                            )
                        ):
                            raise
                elif op == "branch":
                    # full branch lifecycle under fire: fork, commit to
                    # the ref, then either merge (fast-forward only —
                    # conflicts are the documented outcome when main
                    # moved) or abandon
                    name = f"b-{wid}-{step}"
                    create_branch(t, name)
                    try:
                        v = commit_to_branch(
                            spark.range(wid * 100 + step, wid * 100 + step + 3)
                            .coalesce(1),
                            t,
                            name,
                            mode=rng.choice(["append", "overwrite"]),
                        )
                        if rng.random() < 0.5:
                            v = merge_branch(t, name)
                            seen_versions.append(v)
                        else:
                            assert (
                                read_snapshot(spark, t, branch=name).count() >= 0
                            )
                            delete_branch(t, name)
                    except MergeConflictError:
                        delete_branch(t, name)  # non-FF: abandon the ref
            except (VersionConflictError, FileNotFoundError, KeyError):
                # expected casualties of racing vacuum/retention: a
                # restore/tag target aged out, or a CAS loss past the
                # retry budget — the protocol's documented outcomes
                pass
            except Exception as e:  # noqa: BLE001 — anything else is a real bug
                unexpected.append(f"{wid}/{step} {op}: {type(e).__name__}: {e}")

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(worker, range(4)))

    assert not unexpected, unexpected[:5]

    def check_structure() -> None:
        latest = current_version(t)
        assert latest is not None
        tags = list_tags(t)
        # the restore guard tags must never leak past their restore
        assert not [n for n in tags if n.startswith("__restore-")], tags
        branch_heads = {
            f"branch:{n}": b["head"] for n, b in list_branches(t).items()
        }
        for label, v in (
            [("latest", latest)] + sorted(tags.items()) + sorted(branch_heads.items())
        ):
            mp = _manifest_path(t, v)
            assert _os.path.exists(mp), f"{label}: manifest v{v} missing"
            with open(mp) as f:
                m = _json.load(f)
            missing = [
                p
                for p in m["files"] + m.get("dv", [])
                if not _os.path.exists(_os.path.join(t, p))
            ]
            assert not missing, f"{label}: v{v} dangling files {missing[:3]}"
            assert read_snapshot(spark, t, version=v).count() >= 0

    check_structure()
    vacuum(t, keep_last=1)  # aggressive retention must still honor tags
    check_structure()


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """Delta-style TIMESTAMP AS OF: resolve by the committed_at stamp
    every manifest carries (written at the _publish_manifest choke
    point, so every committer gets it), not by file mtime."""
    import json as _json
    import time

    import pytest

    from hw_kafka_flink_health_spark.operators.versioned import (
        _manifest_path,
        commit_snapshot,
        read_snapshot,
        resolve_as_of,
        restore_snapshot,
        vacuum,
    )

    t = str(tmp_path / "asof")
    commit_snapshot(spark.range(10).coalesce(1), t)  # v0
    t0 = time.time()
    time.sleep(0.05)
    commit_snapshot(spark.range(20).coalesce(1), t)  # v1
    t1 = time.time()
    time.sleep(0.05)
    restore_snapshot(t, 0)  # v2 (restore publishes through the same path)
    # stamps are monotone in version number
    stamps = [
        _json.load(open(_manifest_path(t, v)))["committed_at"] for v in range(3)
    ]
    assert stamps == sorted(stamps)
    assert resolve_as_of(t, t0) == 0
    assert resolve_as_of(t, t1) == 1
    assert resolve_as_of(t, time.time()) == 2
    assert read_snapshot(spark, t, as_of=t0).count() == 10
    assert read_snapshot(spark, t, as_of=t1).count() == 20
    assert read_snapshot(spark, t, as_of=time.time()).count() == 10  # restored
    # before the table existed -> error
    with pytest.raises(ValueError, match="as old as"):
        resolve_as_of(t, t0 - 3600)
    # mutually exclusive selectors
    with pytest.raises(ValueError, match="at most one"):
        read_snapshot(spark, t, version=1, as_of=t1)
    # vacuumed history resolves only against retained manifests
    commit_snapshot(spark.range(5).coalesce(1), t)  # v3
    vacuum(t, keep_last=2)
    with pytest.raises(ValueError, match="as old as"):
        resolve_as_of(t, t0)


def test_committed_at_clamps_clock_stepback(spark, tmp_path, monkeypatch):
    """resolve_as_of requires committed_at monotone in version number; a
    wall clock stepping BACK between commits (NTP correction, skewed
    multi-host writers) must not produce a later version with an earlier
    stamp. _publish_manifest clamps to max(prev stamp, now)."""
    import json as _json
    import time as _time

    from hw_kafka_flink_health_spark.operators.versioned import (
        _manifest_path,
        commit_snapshot,
        resolve_as_of,
    )

    t = str(tmp_path / "stepback")
    commit_snapshot(spark.range(3).coalesce(1), t)  # v0, real clock
    v0_stamp = _json.load(open(_manifest_path(t, 0)))["committed_at"]
    # step the clock back 1h for the next commit
    real_time = _time.time
    monkeypatch.setattr(_time, "time", lambda: real_time() - 3600.0)
    commit_snapshot(spark.range(4).coalesce(1), t)  # v1, clock in the past
    monkeypatch.undo()
    v1_stamp = _json.load(open(_manifest_path(t, 1)))["committed_at"]
    assert v1_stamp >= v0_stamp  # clamped, not 1h in the past
    # AS OF "now" resolves to the newest version, not the step-back one
    assert resolve_as_of(t, _time.time()) == 1


def test_heartbeat_lock_token_semantics(tmp_path):
    """The vacuum heartbeat refreshes only a lock we still hold: a
    stolen or vanished lock returns False (caller aborts its pass) and a
    held one gets a fresh mtime so the 30 s steal bound restarts."""
    import os
    import time as _time

    from hw_kafka_flink_health_spark.operators.versioned import (
        _acquire_lock,
        _heartbeat_lock,
        _release_lock,
    )

    lock = str(tmp_path / "t.lock")
    fd, token = _acquire_lock(lock)
    old = _time.time() - 29.0
    os.utime(lock, (old, old))  # nearly stale
    assert _heartbeat_lock(lock, token) is True
    assert _time.time() - os.path.getmtime(lock) < 5.0  # refreshed
    # a thief replaced the content -> not ours anymore
    with open(lock, "wb") as f:
        f.write(b"thief")
    assert _heartbeat_lock(lock, token) is False
    os.remove(lock)
    assert _heartbeat_lock(lock, token) is False
    _release_lock(lock, fd, token)  # no-op; must not raise


def test_branch_lifecycle_and_merge(spark, tmp_path):
    """Git-like refs: branch commits are invisible to main until a
    fast-forward merge; a diverged main refuses the merge."""
    import pytest

    from hw_kafka_flink_health_spark.operators.versioned import (
        MergeConflictError,
        commit_snapshot,
        commit_to_branch,
        create_branch,
        current_version,
        delete_branch,
        list_branches,
        merge_branch,
        read_snapshot,
    )

    t = str(tmp_path / "br")
    commit_snapshot(spark.range(10).coalesce(1), t)  # main v0
    base = create_branch(t, "exp")
    assert base == 0
    v1 = commit_to_branch(spark.range(10, 25).coalesce(1), t, "exp", mode="append")
    assert v1 > 0
    # isolation both ways
    assert current_version(t) == 0
    assert read_snapshot(spark, t).count() == 10
    assert read_snapshot(spark, t, branch="exp").count() == 25
    # a second branch commit moves only the ref
    v2 = commit_to_branch(spark.range(100).coalesce(1), t, "exp")  # overwrite
    assert list_branches(t)["exp"] == {"head": v2, "base": 0}
    assert read_snapshot(spark, t, branch="exp").count() == 100
    assert read_snapshot(spark, t).count() == 10
    # merge republishes the head's content as a NEW claimed main version
    # (never a pointer teleport to the head's number — see merge_branch):
    # main readers see the branch state, version numbers keep increasing
    merged = merge_branch(t, "exp")
    assert merged > v2
    assert current_version(t) == merged
    assert read_snapshot(spark, t).count() == 100
    # the merged content is the head's files BY REFERENCE (metadata-only)
    assert read_snapshot(spark, t, version=v2).count() == 100
    assert "exp" not in list_branches(t)  # merge deletes the ref
    # diverged main -> conflict
    create_branch(t, "exp2")
    commit_to_branch(spark.range(7).coalesce(1), t, "exp2")
    commit_snapshot(spark.range(3).coalesce(1), t)  # main moves past base
    with pytest.raises(MergeConflictError, match="rebase"):
        merge_branch(t, "exp2")
    delete_branch(t, "exp2")
    with pytest.raises(KeyError):
        read_snapshot(spark, t, branch="exp2")


def test_branch_head_pinned_against_vacuum(spark, tmp_path):
    """An unmerged branch head survives any retention window, like a tag;
    deleting the branch releases it."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_snapshot,
        commit_to_branch,
        create_branch,
        delete_branch,
        read_snapshot,
        vacuum,
    )

    t = str(tmp_path / "brv")
    commit_snapshot(spark.range(5).coalesce(1), t)  # v0
    create_branch(t, "keepme")
    commit_to_branch(spark.range(50).coalesce(1), t, "keepme")
    # churn main far past the branch numbers
    for i in range(6):
        commit_snapshot(spark.range(5 + i).coalesce(1), t)
    vacuum(t, keep_last=1, orphan_ttl_seconds=0.0)
    assert read_snapshot(spark, t, branch="keepme").count() == 50
    delete_branch(t, "keepme")
    deleted = vacuum(t, keep_last=1, orphan_ttl_seconds=0.0)
    assert deleted  # the branch head's files are now reclaimable


def test_branch_commit_cas_rejects_stale_head(spark, tmp_path):
    """Two writers racing one branch: the loser's CAS surfaces as a
    VersionConflictError instead of silently dropping the winner."""
    import json as _json
    import pytest

    from hw_kafka_flink_health_spark.operators.versioned import (
        VersionConflictError,
        _branches_path,
        commit_snapshot,
        commit_to_branch,
        create_branch,
    )

    t = str(tmp_path / "brc")
    commit_snapshot(spark.range(5).coalesce(1), t)
    create_branch(t, "exp")
    # simulate a concurrent writer moving the head between this commit's
    # head read and its CAS by pre-moving the ref
    real = _json.load(open(_branches_path(t)))
    df = spark.range(9).coalesce(1)
    # move the head out from under the next commit
    real["exp"]["head"] = 999
    _json.dump(real, open(_branches_path(t), "w"))
    with pytest.raises((VersionConflictError, FileNotFoundError)):
        commit_to_branch(df, t, "exp", mode="append")


# --- round-8 ADVICE regressions: branch claims vs main's commit protocol ---


def test_main_append_never_bases_on_parked_branch_claim(spark, tmp_path):
    """ADVICE r8 (high): commit_snapshot(mode='append') used base=version-1
    in its retry loop, so after a branch claimed that number main's append
    merged onto the BRANCH manifest — main's own rows silently dropped.
    The base must resolve down MAIN's chain, skipping parked branch claims."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_to_branch,
        create_branch,
    )

    t = str(tmp_path / "h1")
    commit_snapshot(spark.range(3).coalesce(1), t)  # main v0: 3 rows
    create_branch(t, "exp")
    commit_to_branch(spark.range(100).coalesce(1), t, "exp")  # parks v1
    commit_snapshot(spark.range(100, 102).coalesce(1), t, mode="append")
    assert read_snapshot(spark, t).count() == 5  # 3 base + 2 appended
    assert read_snapshot(spark, t, branch="exp").count() == 100
    # several parked claims from several branches: the walk skips them all
    create_branch(t, "exp2")
    commit_to_branch(spark.range(10).coalesce(1), t, "exp2")
    commit_to_branch(spark.range(20).coalesce(1), t, "exp")
    commit_snapshot(spark.range(200, 203).coalesce(1), t, mode="append")
    assert read_snapshot(spark, t).count() == 8


def test_dml_retries_claim_past_parked_branch_claim(spark, tmp_path):
    """ADVICE r8 (high): delete_where/merge_into/compact/CAS commits raised
    VersionConflictError forever when an unmerged branch claim parked at
    current+1 — main never moved, so they must re-claim the next number."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_to_branch,
        compact_snapshot,
        create_branch,
        delete_where,
        merge_into,
    )

    t = str(tmp_path / "h2")
    commit_snapshot(spark.range(10).coalesce(1), t)  # v0
    create_branch(t, "exp")
    commit_to_branch(spark.range(99).coalesce(1), t, "exp")  # parks v1
    v = delete_where(spark, t, "id >= 8")
    assert v == 2 and read_snapshot(spark, t).count() == 8
    commit_to_branch(spark.range(50).coalesce(1), t, "exp")  # parks v3
    v = merge_into(spark, t, spark.range(100, 103).coalesce(1), ["id"])
    assert v == 4 and read_snapshot(spark, t).count() == 11
    commit_to_branch(spark.range(5).coalesce(1), t, "exp")  # parks v5
    v2 = compact_snapshot(spark, t)
    assert read_snapshot(spark, t, version=v2).count() == 11
    cur = current_version(t)
    commit_to_branch(spark.range(5).coalesce(1), t, "exp")  # parks cur+1
    commit_snapshot(spark.range(4).coalesce(1), t, expect_version=cur)
    assert read_snapshot(spark, t).count() == 4


def test_merge_conflicts_on_published_unadvanced_main_claim(spark, tmp_path):
    """ADVICE r8 (medium): a racing main commit publishes its manifest
    before advancing the pointer; the old fast-forward merge teleported
    the pointer over it and the racer's rows were silently stranded. The
    merge-as-commit design runs the claim ladder into the racer's
    non-branch manifest and conflicts instead."""
    import pytest

    from hw_kafka_flink_health_spark.operators.versioned import (
        MergeConflictError,
        _publish_manifest,
        _stage_parquet,
        commit_to_branch,
        create_branch,
        merge_branch,
    )

    t = str(tmp_path / "m1")
    commit_snapshot(spark.range(3).coalesce(1), t)  # v0
    create_branch(t, "exp")
    commit_to_branch(spark.range(50).coalesce(1), t, "exp")  # v1
    # racer: published main manifest at v2, pointer NOT yet advanced
    racer = _stage_parquet(spark.range(200, 204).coalesce(1), t, "data", 2)
    assert _publish_manifest(t, 2, {"version": 2, "files": racer})
    with pytest.raises(MergeConflictError):
        merge_branch(t, "exp")
    assert current_version(t) == 0  # merge touched nothing


def test_merge_is_a_claimed_commit_and_racers_rebase_onto_it(spark, tmp_path):
    """The merge claims a FRESH version number (never the head's), so a
    main append that loses its claim to the merge manifest re-bases onto
    the merged content — neither side can silently drop the other."""
    from hw_kafka_flink_health_spark.operators.versioned import (
        commit_to_branch,
        create_branch,
        merge_branch,
        read_snapshot,
    )

    t = str(tmp_path / "m1b")
    commit_snapshot(spark.range(3).coalesce(1), t)  # v0
    create_branch(t, "exp")
    head = commit_to_branch(spark.range(3, 10).coalesce(1), t, "exp", mode="append")
    merged = merge_branch(t, "exp")
    assert merged > head  # fresh number above every claim
    assert read_snapshot(spark, t).count() == 10
    # an append now walks its claim past v1 (branch) and v2 (merge) and
    # bases on the merge manifest: merged rows survive
    commit_snapshot(spark.range(10, 12).coalesce(1), t, mode="append")
    assert read_snapshot(spark, t).count() == 12


def test_lost_branch_cas_leaves_no_orphan_manifest(spark, tmp_path):
    """ADVICE r8 (low): commit_to_branch losing the head CAS published an
    orphan manifest above main's pointer that vacuum's in-flight-claim
    rule retained forever. The loser must roll its publication back."""
    import pytest

    import hw_kafka_flink_health_spark.operators.versioned as V

    t = str(tmp_path / "l1")
    commit_snapshot(spark.range(3).coalesce(1), t)
    V.create_branch(t, "exp")
    orig = V._read_refs
    calls = {"n": 0}

    def sneaky(path):
        b = orig(path)
        if path != V._branches_path(t):
            return b
        calls["n"] += 1
        if calls["n"] == 2:  # the in-CAS re-read inside commit_to_branch
            moved = {k: dict(v) for k, v in b.items()}
            moved["exp"]["head"] = 999
            return moved
        return b

    V._read_refs = sneaky
    try:
        with pytest.raises(V.VersionConflictError):
            V.commit_to_branch(spark.range(9).coalesce(1), t, "exp")
    finally:
        V._read_refs = orig
    leftovers = [
        n
        for n in os.listdir(t)
        if n.startswith("manifest-v1") or n.startswith("data-v1-")
    ]
    assert not leftovers, leftovers


def test_vacuum_reclaims_unreachable_branch_manifest_past_ttl(spark, tmp_path):
    """ADVICE r8 (low), second layer: a crashed branch commit's orphan
    manifest (reachable from no branch head) is swept once older than the
    orphan TTL; its files cascade out on the following vacuum."""
    import json as _json

    from hw_kafka_flink_health_spark.operators.versioned import (
        _manifest_path,
        _publish_manifest,
        _stage_parquet,
        commit_to_branch,
        create_branch,
    )

    t = str(tmp_path / "l1b")
    commit_snapshot(spark.range(3).coalesce(1), t)
    create_branch(t, "exp")
    commit_to_branch(spark.range(9).coalesce(1), t, "exp")  # v1, reachable
    orphan = _stage_parquet(spark.range(7).coalesce(1), t, "data", 2)
    assert _publish_manifest(
        t, 2, {"version": 2, "files": orphan, "branch": "exp", "parent": 1}
    )
    m = _json.load(open(_manifest_path(t, 2)))
    m["committed_at"] = 1.0  # backdate past any TTL
    os.remove(_manifest_path(t, 2))
    with open(_manifest_path(t, 2), "w") as f:
        _json.dump(m, f)
    vacuum(t, keep_last=2, orphan_ttl_seconds=60)
    assert not os.path.exists(_manifest_path(t, 2))  # orphan swept
    assert os.path.exists(_manifest_path(t, 1))  # live head kept
    for n in orphan:  # age the now-unreferenced files past the TTL
        os.utime(os.path.join(t, n), (1, 1))
    vacuum(t, keep_last=2, orphan_ttl_seconds=60)
    assert not [n for n in orphan if os.path.exists(os.path.join(t, n))]
    assert read_snapshot(spark, t, branch="exp").count() == 9


def test_rebase_branch_replays_appends_onto_moved_main(spark, tmp_path):
    """rebase_branch re-forks an append-only branch from current main:
    the branch's added files replay onto main's new state, the old head
    becomes unreachable debris vacuum reclaims, and the rebased branch
    merges cleanly."""
    import pytest

    from hw_kafka_flink_health_spark.operators.versioned import (
        MergeConflictError,
        _manifest_path,
        commit_to_branch,
        create_branch,
        delete_where,
        list_branches,
        merge_branch,
        rebase_branch,
    )

    t = str(tmp_path / "rb")
    commit_snapshot(spark.range(10).coalesce(1), t)  # main v0
    create_branch(t, "exp")
    commit_to_branch(spark.range(100, 105).coalesce(1), t, "exp", mode="append")
    commit_snapshot(spark.range(10, 30).coalesce(1), t, mode="append")  # main moves
    with pytest.raises(MergeConflictError, match="rebase"):
        merge_branch(t, "exp", delete=False)
    old_head = list_branches(t)["exp"]["head"]
    new_head = rebase_branch(t, "exp")
    ref = list_branches(t)["exp"]
    assert ref["head"] == new_head and ref["base"] == current_version(t)
    # rebased view = current main + the branch's appended rows
    assert read_snapshot(spark, t, branch="exp").count() == 35
    merge_branch(t, "exp")
    assert read_snapshot(spark, t).count() == 35
    # main's deletes since the fork apply to the rebased view: redo on a
    # fresh branch with a main-side DV in between
    create_branch(t, "exp2")
    commit_to_branch(spark.range(200, 203).coalesce(1), t, "exp2", mode="append")
    delete_where(spark, t, "id < 5")  # main deletes 5 rows
    rebase_branch(t, "exp2")
    assert read_snapshot(spark, t, branch="exp2").count() == 33  # 35 - 5 + 3
    # the abandoned old head is unreachable: vacuum reclaims it past TTL
    import json as _json

    m = _json.load(open(_manifest_path(t, old_head)))
    m["committed_at"] = 1.0
    os.remove(_manifest_path(t, old_head))
    with open(_manifest_path(t, old_head), "w") as f:
        _json.dump(m, f)
    vacuum(t, keep_last=2, orphan_ttl_seconds=60)
    assert not os.path.exists(_manifest_path(t, old_head))


def test_rebase_branch_rejects_non_additive_history(spark, tmp_path):
    """Overwrite branches and branches carrying their own deletion
    vectors have no file-additive delta — rebase must refuse, never
    guess."""
    import pytest

    from hw_kafka_flink_health_spark.operators.versioned import (
        MergeConflictError,
        commit_to_branch,
        create_branch,
        rebase_branch,
    )

    t = str(tmp_path / "rbx")
    commit_snapshot(spark.range(10).coalesce(1), t)
    create_branch(t, "ow")
    commit_to_branch(spark.range(3).coalesce(1), t, "ow")  # overwrite
    commit_snapshot(spark.range(10, 12).coalesce(1), t, mode="append")
    with pytest.raises(MergeConflictError, match="overwrite"):
        rebase_branch(t, "ow")


def test_read_changes_net_semantics_and_guards(spark, tmp_path):
    """read_changes nets in-span insert+delete to nothing, reports
    pre-existing-row deletes with full payloads, refuses file-removal
    spans, and returns an empty typed frame for no-op spans."""
    import pytest

    from hw_kafka_flink_health_spark.operators.versioned import (
        compact_snapshot,
        delete_where,
        read_changes,
    )

    t = str(tmp_path / "cdf")
    v0 = commit_snapshot(spark.range(10).coalesce(1), t)
    commit_snapshot(spark.range(10, 20).coalesce(1), t, mode="append")
    v2 = delete_where(spark, t, "id IN (3, 15)")  # one old row, one new row
    ch = read_changes(spark, t, v0, v2).toPandas()
    ins = sorted(ch[ch["_change_type"] == "insert"]["id"])
    dele = sorted(ch[ch["_change_type"] == "delete"]["id"])
    assert ins == [10, 11, 12, 13, 14, 16, 17, 18, 19]  # 15 netted out
    assert dele == [3]  # pre-existing row: reported with payload
    # no-op span: empty frame with the full schema
    empty = read_changes(spark, t, v2, v2)
    assert empty.count() == 0 and "_change_type" in empty.columns
    # compaction removes files -> no file-level feed exists
    v3 = compact_snapshot(spark, t, small_file_bytes=1 << 30)
    if v3 != v2:
        with pytest.raises(ValueError, match="removed data files"):
            read_changes(spark, t, v0, v3)


# --- one commit path: shape, cleanup and the vacuum-vs-claim race ---------


def test_commit_protocol_exists_once():
    """The claim protocol has one copy (AST only, no Spark): `_claim` is
    the only caller of `_publish_manifest` and `_advance_pointer`;
    `_tags.lock` is taken only by `_update_refs` (every tag or branch map
    change) and `vacuum`; no manifest is rewritten after readers can see
    it (`_rewrite_manifest` is gone)."""
    import ast
    from collections import defaultdict
    from pathlib import Path

    import hw_kafka_flink_health_spark.operators.versioned as V

    tree = ast.parse(Path(V.__file__).read_text())
    calls = defaultdict(list)  # callee -> enclosing top-level function, per call
    lock_users = set()
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
                calls[node.func.id].append(fn.name)
            if isinstance(node, ast.Constant) and node.value == "_tags.lock":
                lock_users.add(fn.name)
    assert calls["_publish_manifest"] == ["_claim"], calls["_publish_manifest"]
    assert calls["_advance_pointer"] == ["_claim"], calls["_advance_pointer"]
    assert lock_users == {"_update_refs", "vacuum"}, lock_users
    assert set(calls["_acquire_lock"]) == {"_advance_pointer", "_update_refs", "vacuum"}
    assert not hasattr(V, "_rewrite_manifest")


def test_vacuum_keeps_versions_claimed_during_its_pass(tmp_path, monkeypatch):
    """Commits do not take vacuum's lock, so a version claimed while vacuum
    runs must survive it. Whenever vacuum reads the branch map, a writer
    claims the next version; afterwards each such claim still has its
    manifest, and the writer's pointer advance lands on a readable version.
    Before the delete pass acted only on the scan's own listing, it listed
    the directory again and removed the claim made between the two
    listings: `_latest` then named a missing manifest (the stress test's
    rare `latest: manifest vN missing`). No Spark: manifests name empty
    placeholder files."""
    import json as _json

    import hw_kafka_flink_health_spark.operators.versioned as V

    t = str(tmp_path / "race")
    os.makedirs(t)

    def claim(v: int) -> None:
        name = f"data-v{v}-part.parquet"
        open(os.path.join(t, name), "w").close()
        assert V._publish_manifest(t, v, {"version": v, "files": [name]})

    for v in range(3):
        claim(v)
        V._advance_pointer(t, v)
    claimed: list[int] = []
    real = V.list_branches

    def claim_while_vacuuming(table_dir):
        claimed.append(V._max_claimed_version(t) + 1)
        claim(claimed[-1])
        return real(table_dir)

    monkeypatch.setattr(V, "list_branches", claim_while_vacuuming)
    V.vacuum(t, keep_last=2)
    monkeypatch.undo()
    assert claimed
    for v in claimed:
        V._advance_pointer(t, v)  # the writer resumes after its claim
        assert os.path.exists(V._manifest_path(t, v)), f"claimed v{v} was swept"
    with open(V._manifest_path(t, V.current_version(t))) as f:
        assert _json.load(f)["files"]


def test_committers_unstage_on_any_exit_without_publish(spark, tmp_path, monkeypatch):
    """One cleanup rule for every committer: when anything after staging
    raises — here the claim itself, with OSError — no staged data or
    deletion-vector file is left in the table dir."""
    import pytest

    import hw_kafka_flink_health_spark.operators.versioned as V

    t = str(tmp_path / "unstage")
    commit_snapshot(spark.range(10).coalesce(1), t)
    commit_snapshot(spark.range(10, 20).coalesce(1), t, mode="append")
    V.create_branch(t, "exp")
    before = sorted(os.listdir(t))

    def full_disk(*_args):
        raise OSError("no space left on device")

    monkeypatch.setattr(V, "_publish_manifest", full_disk)
    for commit in (
        lambda: V.delete_where(spark, t, "id < 5"),
        lambda: V.merge_into(spark, t, spark.range(5, 25).coalesce(1), ["id"]),
        lambda: V.compact_snapshot(spark, t),
        lambda: V.commit_snapshot(spark.range(3).coalesce(1), t, mode="append"),
        lambda: V.commit_snapshot_clustered(spark.range(30), t, cluster_col="id"),
        lambda: V.commit_to_branch(spark.range(3).coalesce(1), t, "exp"),
    ):
        with pytest.raises(OSError):
            commit()
        assert sorted(os.listdir(t)) == before


def test_latest_never_reaches_a_branch_manifest(spark, tmp_path):
    """No manifest `_latest` points at carries a `branch` key: only main
    committers advance the pointer, and none of them publishes one — not
    even with a branch claim parked right above main before each step
    (the numbers every main claim has to step over). This is why no
    post-advance check for "the pointer moved onto a branch head" is
    needed."""
    import json as _json

    from hw_kafka_flink_health_spark.operators.versioned import (
        _manifest_path,
        commit_snapshot_clustered,
        commit_snapshot_zordered,
        commit_to_branch,
        compact_snapshot,
        create_branch,
        delete_where,
        merge_branch,
        merge_into,
        rebase_branch,
        restore_snapshot,
    )

    t = str(tmp_path / "mainline")
    commit_snapshot(spark.range(10).coalesce(1), t)
    create_branch(t, "exp")
    main_ops = [
        lambda: commit_snapshot(spark.range(10, 12).coalesce(1), t, mode="append"),
        lambda: commit_snapshot(
            spark.range(5).coalesce(1), t, mode="append",
            expect_version=current_version(t),
        ),
        lambda: delete_where(spark, t, "id = 1"),
        lambda: merge_into(spark, t, spark.range(100, 102).coalesce(1), ["id"]),
        lambda: compact_snapshot(spark, t),
        lambda: restore_snapshot(t, 0),
        lambda: commit_snapshot_clustered(spark.range(40), t, cluster_col="id"),
        lambda: commit_snapshot_zordered(
            spark.range(40).selectExpr("id", "id % 7 AS y"), t, cluster_cols=["id", "y"]
        ),
    ]
    pointers = []
    for op in main_ops:
        commit_to_branch(spark.range(3).coalesce(1), t, "exp", mode="append")
        assert op() == current_version(t)
        pointers.append(current_version(t))
    rebase_branch(t, "exp")
    assert merge_branch(t, "exp") == current_version(t)
    pointers.append(current_version(t))
    assert pointers == sorted(set(pointers))  # every step moved main forward
    for v in pointers:
        with open(_manifest_path(t, v)) as f:
            assert "branch" not in _json.load(f), v
