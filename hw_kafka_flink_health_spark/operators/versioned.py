"""Versioned snapshot tables: manifest-pinned file sets with time travel.

The lakehouse table-format core (Delta/Iceberg's essential mechanism)
reduced to its Spark-visible contract, built from primitives this repo
already trusts (parquet parts + atomic manifest publication, the same
commit discipline as `sources/pydatasource.py:ManifestJsonlDataSource`):

* data files are immutable and shared across versions: a commit stages
  NEW parquet files into the table directory and publishes
  `manifest-v{N}.json` naming exactly the data files and deletion-vector
  sidecars that make up version N, so an overwrite logically replaces
  rows but physically only adds files + one manifest, and commits cost
  O(new data), never O(table);
* a read pins a manifest, so it sees one immutable snapshot regardless
  of concurrent commits (snapshot isolation), and old versions stay
  readable until vacuumed (time travel);
* `vacuum` deletes files unreachable from any retained manifest — the
  only destructive operation, and it never touches the current version.

Every committer goes through ONE claim path, `_claim`:

1. files are staged inside `_staging`, which removes them again on any
   exit that did not publish a manifest naming them;
2. version N is claimed by hard-linking a complete manifest to its
   final name (`_publish_manifest`): the link fails when N is taken, so
   two writers never share a version and no reader sees a torn one;
3. a lost claim follows the committer's rule:
   (a) re-derive the manifest at the next number — the declarative
       commits: `commit_snapshot` without `expect_version`,
       `restore_snapshot`, and the branch claims of `commit_to_branch`
       and `rebase_branch`;
   (b) step over a parked branch claim while `_latest` still reads the
       base the change was derived from, else raise
       `VersionConflictError` — `delete_where`, `merge_into`,
       `compact_snapshot` and `commit_snapshot` with `expect_version`;
   (c) rule (b) raising `MergeConflictError` — `merge_branch`;
4. after the win a main commit advances the monotonic `_latest` pointer
   (`_advance_pointer`, a check-and-rename under `_latest.lock`); a
   branch commit CASes its head in the branch map and removes its own
   manifest when the CAS loses.

Branch commits claim ordinary numbers but never move `_latest`, and the
main committers' manifests carry no `branch` key, so no manifest that
`_latest` reaches is a branch claim. Tag and branch maps change only
through `_update_refs`, one locked read-modify-write under `_tags.lock`
— the lock `vacuum` holds across its scan and delete pass.

At 100 TB this is the difference between "rewrite the table to update
it" and "append new parts + swap a pointer"; the read path is a plain
parquet scan of the pinned file list, so every pushdown/pruning plan
property holds unchanged.
"""

from __future__ import annotations

import json
import os
import uuid
from contextlib import contextmanager, suppress

from pyspark.sql import DataFrame, SparkSession

# claim attempts of the committers that take no `max_retries`
_CLAIM_RETRIES = 20
# the keys restore_snapshot and merge_branch carry forward when they
# republish a version by reference: dv (logical content), the pruning
# stats (dropping them silently full-scans every pruned read) and
# batch_id (the streaming sink's exactly-once marker — the republished
# content IS the state as of that batch)
_CARRIED = ("dv", "stats", "cluster_col", "stats2", "zorder", "batch_id")


class VersionConflictError(RuntimeError):
    """Optimistic-concurrency failure: the base version moved underneath a
    commit that pinned `expect_version`. The caller re-reads the table and
    re-derives its change (the standard OCC retry loop)."""


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"manifest-v{version}.json")


def _manifest_version(name: str) -> int | None:
    """N for a `manifest-vN.json` file name, else None."""
    if name.startswith("manifest-v") and name.endswith(".json"):
        with suppress(ValueError):
            return int(name[len("manifest-v") : -len(".json")])
    return None


def _read_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


def _publish_manifest(table_dir: str, version: int, manifest: dict) -> bool:
    """Atomically CLAIM version N by hard-linking a fully-written temp
    manifest to its final name — link fails if the name exists, so two
    writers can never share a version, and a concurrent reader can never
    observe a half-written manifest (the content exists before the name
    does). Returns False when another writer already claimed N.

    Every manifest is stamped `committed_at` (epoch seconds) HERE, the
    publish step of `_claim`, and read_snapshot's `as_of` timestamp
    travel resolves against that stamp. The stamp
    rides the manifest json, not the file mtime, so copies/backups don't
    corrupt time travel. It is clamped to max(previous version's stamp,
    now): resolve_as_of assumes committed_at is monotone in version
    number, which a raw wall clock only guarantees on one host with no NTP
    step-backs (round-7 advice — the same clamp Delta applies, see its
    "timestamp adjusted" commit semantics). When the previous manifest
    is already vacuumed the clamp falls back to now; any stamp it could
    have carried is <= a retained successor's, so resolution order over
    RETAINED versions is unaffected."""
    import time as _time

    stamp = _time.time()
    try:
        prev = _read_manifest(table_dir, version - 1).get("committed_at")
        if prev is not None:
            stamp = max(stamp, prev)
    except (OSError, ValueError):
        pass  # first version, vacuumed predecessor, or corrupt json
    manifest = {**manifest, "committed_at": stamp}
    tmp = os.path.join(table_dir, f"_manifest-tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    try:
        os.link(tmp, _manifest_path(table_dir, version))
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def _stage_parquet(df: DataFrame, table_dir: str, prefix: str, version: int) -> list:
    """Write df to a scratch dir and move its part files into the table
    dir as `{prefix}-v{version}-<part>` — the shared staging step of every
    commit path. The moved files are invisible to readers until a
    manifest references them (and vacuum's never-referenced TTL guard
    protects them while the commit is in flight). Data file names embed
    the first-attempt version as a debugging hint; the manifest's file
    list is the only authority."""
    staging = os.path.join(table_dir, f"_staging-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    moved = []
    for name in sorted(os.listdir(staging)):
        if name.endswith(".parquet"):
            dst = f"{prefix}-v{version}-{name}"
            os.rename(os.path.join(staging, name), os.path.join(table_dir, dst))
            moved.append(dst)
    for name in os.listdir(staging):
        os.remove(os.path.join(staging, name))
    os.rmdir(staging)
    return moved


def _stage_rows(df: DataFrame, table_dir: str, prefix: str, version: int) -> list:
    """`_stage_parquet`, or [] with the files removed again when df has no
    rows (an empty part file may still be written; the footers say how
    many rows landed — driver-side, O(files) metadata)."""
    import pyarrow.parquet as pq

    files = _stage_parquet(df, table_dir, prefix, version)
    if sum(pq.read_metadata(os.path.join(table_dir, n)).num_rows for n in files):
        return files
    _unstage(table_dir, files)
    return []


def _unstage(table_dir: str, files: list) -> None:
    for name in files:
        with suppress(FileNotFoundError):
            os.remove(os.path.join(table_dir, name))


@contextmanager
def _staging(table_dir: str):
    """Yield the list a commit adds its staged file names to; remove what
    is still listed on exit. `_claim` empties it once a published manifest
    names the files, so an exit that did not publish (a no-op, a lost
    claim, any raise) strands no file for vacuum's orphan TTL to find."""
    staged: list = []
    try:
        yield staged
    finally:
        _unstage(table_dir, staged)


def _acquire_lock(lock: str) -> tuple[int, bytes]:
    """Acquire a spin lock file; returns (fd, holder token).

    A holder token makes release safe after a steal: release only removes
    the lock while this token is still inside it, so a holder that stalls
    past the 30 s staleness bound and gets stolen can never delete a
    SUCCESSOR holder's fresh lock (which would let a third writer in).
    Liveness: a crashed holder would otherwise deadlock every future
    acquirer — a lock older than 30 s is abandoned and stolen by ATOMIC
    RENAME, never a direct remove (rename succeeds for exactly one
    stealer, so a loser can't delete a FRESH lock someone else just
    re-acquired)."""
    import time as _time

    token = uuid.uuid4().hex.encode()
    for _ in range(5000):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, token)
            return fd, token
        except FileExistsError:
            try:
                if _time.time() - os.path.getmtime(lock) > 30.0:
                    corpse = lock + f".stale-{uuid.uuid4().hex}"
                    os.rename(lock, corpse)
                    os.remove(corpse)
                    continue
            except FileNotFoundError:
                continue  # holder just released (or another stealer won)
            _time.sleep(0.002)
    raise TimeoutError(f"could not acquire lock {lock}")


def _heartbeat_lock(lock: str, token: bytes) -> bool:
    """Refresh a held lock's mtime so a long critical section is not
    stolen at the 30 s staleness bound mid-pass (round-7 advice: a vacuum
    scanning a huge table dir on slow/NFS storage could lose _tags.lock
    between its tag snapshot and its deletes, silently reopening the
    create_tag-vs-vacuum dangling-tag race it exists to close). Verifies
    the token first — touching a STOLEN lock would extend the thief's
    lease, not ours. Returns False if the lock is no longer ours; the
    caller must abort its pass (the residual verify→utime window is the
    same 30 s-scale race the steal protocol already accepts)."""
    try:
        with open(lock, "rb") as lf:
            if lf.read() != token:
                return False
        os.utime(lock)
        return True
    except FileNotFoundError:
        return False


def _release_lock(lock: str, fd: int, token: bytes) -> None:
    """Release only if the lock still holds our token (see _acquire_lock).
    The residual check→remove window only matters if THIS holder stalls
    >30 s again inside it — the same bound the steal protocol accepts."""
    os.close(fd)
    try:
        with open(lock, "rb") as lf:
            still_mine = lf.read() == token
    except FileNotFoundError:
        still_mine = False
    if still_mine:
        with suppress(FileNotFoundError):
            os.remove(lock)  # a stealer may have raced the check


def _advance_pointer(table_dir: str, version: int) -> None:
    """Move `_latest` forward to `version` unless it already points past
    it — the pointer is MONOTONIC (without the check, a slow v5 writer
    could rename over a v6 pointer and readers would time-travel
    backwards). A spin lock file makes check+rename atomic; on a real
    deployment this is the metastore/object-store CAS operation."""
    lock = os.path.join(table_dir, "_latest.lock")
    fd, token = _acquire_lock(lock)
    try:
        cur = current_version(table_dir)
        if cur is None or cur < version:
            tmp = _latest_pointer(table_dir) + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(str(version))
            os.rename(tmp, _latest_pointer(table_dir))
    finally:
        _release_lock(lock, fd, token)


def _latest_pointer(table_dir: str) -> str:
    return os.path.join(table_dir, "_latest")


def current_version(table_dir: str) -> int | None:
    try:
        with open(_latest_pointer(table_dir)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def _head(table_dir: str) -> int:
    """`current_version`, raising on a table with no committed version."""
    v = current_version(table_dir)
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    return v


def _check_base(table_dir: str, version: int | None, expect_version: int | None) -> None:
    """Fail fast when the caller pinned `expect_version` and the table moved."""
    if expect_version is not None and version != expect_version:
        raise VersionConflictError(
            f"table {table_dir} is at version {version}, expected {expect_version}"
        )


def _claim_owner_is_branch(table_dir: str, version: int) -> bool:
    """Whether the manifest claiming `version` belongs to a BRANCH commit.
    Branch commits park ordinary version numbers in the shared numbering
    without ever moving main's pointer (see the refs section below), so a
    lost claim against one does NOT mean main's snapshot changed.
    Unreadable/missing manifests conservatively count as main (conflict)."""
    try:
        return "branch" in _read_manifest(table_dir, version)
    except (OSError, ValueError):
        return False


def _claim(
    table_dir: str,
    version: int,
    build,
    staged: list,
    max_retries: int,
    *,
    conflict: type[Exception] | None,
    base: int | None,
    ref: tuple | None,
) -> int:
    """The one claim path (module docstring): publish `build(v)`, the
    manifest content without its `version` key, as the first free number
    v from `version` up, and return v. A lost claim with `conflict` None
    is rule (a); otherwise a parked BRANCH claim is stepped over while
    `_latest` still reads `base` (main did not change, so the derived
    change is still valid) and anything else raises `conflict` (rules b,
    c). After the win the manifest owns the staged files. `ref` is None
    for a main commit; a branch commit passes (name, the head it derived
    from, the new base or None to keep it), and a lost head CAS removes
    its manifest and files — left in place, the orphan would sit above
    main's pointer, where vacuum's in-flight-claim rule retains it."""
    for _attempt in range(max_retries + 1):
        if _publish_manifest(table_dir, version, {"version": version, **build(version)}):
            break
        if conflict is not None and not (
            _claim_owner_is_branch(table_dir, version)
            and current_version(table_dir) == base
        ):
            raise conflict(
                f"{table_dir} moved past v{base} while claiming v{version}: "
                "re-derive the change from the new current version "
                "(for a branch merge: rebase the branch)"
            )
        version += 1
    else:
        raise VersionConflictError(
            f"gave up after {max_retries} contended claims on {table_dir}"
        )
    owned = list(staged)
    staged.clear()
    if ref is None:
        _advance_pointer(table_dir, version)
        return version
    name, head, new_base = ref

    def cas(branches: dict) -> None:
        cur = branches.get(name)
        if cur is None or cur["head"] != head:
            raise VersionConflictError(
                f"branch {name!r} moved (head {cur and cur['head']} != {head}) "
                f"while committing v{version}"
            )
        keep = cur["base"] if new_base is None else new_base
        branches[name] = {"head": version, "base": keep}

    try:
        _update_refs(table_dir, _branches_path(table_dir), cas)
    except VersionConflictError:
        _unstage(table_dir, [os.path.basename(_manifest_path(table_dir, version)), *owned])
        raise
    return version


def _append_base(table_dir: str, version: int) -> dict | None:
    """The manifest an append claiming `version` builds on: the nearest
    one below it that is not a branch claim. Branch commits park numbers
    in the shared numbering, and merging onto one would drop main's own
    rows into the branch's state (round-8 advice); a non-branch manifest
    above `_latest` is a content-complete main claim whose writer has not
    advanced the pointer yet, a valid base. None for the first commit."""
    for base in range(version - 1, -1, -1):
        m = _read_manifest(table_dir, base)
        if "branch" not in m:
            return m
    return None


def _commit_data(
    df: DataFrame,
    table_dir: str,
    mode: str,
    batch_id: int | None,
    expect_version: int | None,
    max_retries: int,
    layout,
) -> int:
    """`commit_snapshot`; `layout(staged files) -> dict` (or None) adds
    the clustered committers' manifest keys before the claim."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown mode {mode!r}")
    os.makedirs(table_dir, exist_ok=True)
    prev = current_version(table_dir)
    _check_base(table_dir, prev, expect_version)
    version = 0 if prev is None else prev + 1
    with _staging(table_dir) as staged:
        new_files = _stage_parquet(df, table_dir, "data", version)
        staged += new_files
        extra = {} if layout is None else layout(new_files)

        def build(version: int) -> dict:
            content = {"files": new_files, **extra}
            base = _append_base(table_dir, version) if mode == "append" else None
            if base is not None:
                content["files"] = base["files"] + new_files
                if base.get("dv"):
                    # append preserves the base's deletion vectors —
                    # dropping them would resurrect every previously
                    # deleted row (overwrite discards them with the table)
                    content["dv"] = base["dv"]
                col = extra.get("cluster_col")
                if col is not None and base.get("cluster_col") == col:
                    content["stats"] = {**base.get("stats", {}), **extra["stats"]}
            if batch_id is not None:
                # transactional-sink support: the manifest records which
                # stream batch produced this version, so a replayed batch
                # is detected and skipped (exactly-once) — see
                # last_committed_batch
                content["batch_id"] = batch_id
            return content

        return _claim(
            table_dir,
            version,
            build,
            staged,
            max_retries,
            conflict=None if expect_version is None else VersionConflictError,
            base=expect_version,
            ref=None,
        )


def commit_snapshot(
    df: DataFrame,
    table_dir: str,
    *,
    mode: str = "overwrite",
    batch_id: int | None = None,
    expect_version: int | None = None,
    max_retries: int = 20,
) -> int:
    """Commit df as the next version. mode='overwrite' makes the new
    version exactly df; mode='append' makes it previous-version ∪ df.
    Returns the committed version number.

    Write protocol (see the module docstring): stage parquet, claim the
    next version number with a complete manifest, then advance the
    monotonic `_latest` pointer. A reader that raced the commit either
    sees the old pointer (old snapshot) or the new one (fully published
    snapshot) — never a torn state.

    Concurrency (optimistic): two writers can never share a version —
    the loser of the manifest claim RETRIES against the new base
    (appends re-merge onto the winner's file list, which is correct
    because append is commutative; overwrites become
    last-writer-wins). Pass `expect_version` (the version the caller
    read before deriving its change) to demand compare-and-swap
    semantics instead: the commit succeeds only on top of
    expect_version (stepping over parked branch claims), else raises
    VersionConflictError and leaves no staged file behind."""
    return _commit_data(
        df, table_dir, mode, batch_id, expect_version, max_retries, None
    )


def _tags_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_tags.json")


def _branches_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_branches.json")


def _read_refs(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _write_refs(path: str, refs: dict) -> None:
    """Replace a ref map atomically (tmp + rename)."""
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(refs, f)
    os.rename(tmp, path)


def _update_refs(table_dir: str, path: str, change) -> None:
    """The one locked read-modify-write of a ref map (tags or branches):
    `change` edits the map in place, or raises to abort without writing.
    `_tags.lock` keeps two writers from losing each other's update, and
    vacuum holds it across its scan and delete pass."""
    lock = os.path.join(table_dir, "_tags.lock")
    fd, token = _acquire_lock(lock)
    try:
        refs = _read_refs(path)
        change(refs)
        _write_refs(path, refs)
    finally:
        _release_lock(lock, fd, token)


def _ref_entry(refs: dict, kind: str, name: str, table_dir: str):
    if name not in refs:
        raise KeyError(f"no {kind} {name!r} in {table_dir}")
    return refs[name]


def list_tags(table_dir: str) -> dict:
    """name -> version map of all tags (empty if none created yet)."""
    return _read_refs(_tags_path(table_dir))


def create_tag(
    table_dir: str, name: str, version: int | None = None, *, overwrite: bool = False
) -> int:
    """Pin a human-named TAG to a version (latest by default) — the
    Iceberg/Delta named-snapshot primitive. Tagged versions are exempt
    from vacuum retention: their manifests and data files survive any
    keep_last window until the tag is deleted, so 'the corpus we trained
    run X on' stays reproducible while ordinary history expires.
    The manifest check runs inside the ref lock (`_update_refs`): either
    the tag lands before vacuum reads the tag map (version pinned) or
    vacuum finished first and a swept version fails here instead of
    becoming a dangling tag."""
    v = _head(table_dir) if version is None else version

    def add(tags: dict) -> None:
        if not os.path.exists(_manifest_path(table_dir, v)):
            raise FileNotFoundError(f"version {v} has no manifest in {table_dir}")
        if name in tags and not overwrite:
            raise ValueError(f"tag {name!r} already exists (-> v{tags[name]})")
        tags[name] = v

    _update_refs(table_dir, _tags_path(table_dir), add)
    return v


def delete_tag(table_dir: str, name: str) -> None:
    """Drop a tag; its version re-enters ordinary vacuum retention."""

    def drop(tags: dict) -> None:
        _ref_entry(tags, "tag", name, table_dir)
        del tags[name]

    _update_refs(table_dir, _tags_path(table_dir), drop)


def resolve_as_of(table_dir: str, as_of: float) -> int:
    """Delta-style TIMESTAMP AS OF resolution: the latest RETAINED
    version whose `committed_at` stamp (written by _publish_manifest at
    claim time, so it is monotone in the version number) is <= `as_of`,
    capped at the published pointer (in-flight claims are invisible to
    readers). Raises if every retained manifest is newer — the history
    at that timestamp has been vacuumed, same error posture as Delta's
    earliest-available check."""
    latest = _head(table_dir)
    best = None
    earliest = None
    for name in os.listdir(table_dir):
        v = _manifest_version(name)
        if v is None or v > latest:
            continue
        try:
            ts = _read_manifest(table_dir, v).get("committed_at")
        except (FileNotFoundError, ValueError):
            continue
        if ts is None:
            continue
        earliest = ts if earliest is None else min(earliest, ts)
        if ts <= as_of and (best is None or v > best):
            best = v
    if best is None:
        raise ValueError(
            f"no retained version of {table_dir} is as old as {as_of}"
            + (f" (earliest retained commit: {earliest})" if earliest else "")
        )
    return best


# --- reads: a mergeSchema scan of a pinned file list, with deletion
# vectors (row-level deletes without rewriting data files, the
# Delta/Iceberg merge-on-read mechanism) anti-joined out. A delete commits
# a SIDECAR of (file, row_index) pairs — cost O(matched rows), never
# O(table) — and readers anti-join it against the scan's
# _metadata.row_index. Compaction PURGES: rewritten files drop their
# vector entries for real.


def _scan(spark: SparkSession, table_dir: str, files: list) -> DataFrame:
    """Parquet scan of table files with mergeSchema on: an appended version
    may mix files written under an older, narrower schema with newer wide
    ones (schema evolution) — old files surface the new columns as NULL."""
    return spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(table_dir, p) for p in files]
    )


def _no_rows(spark: SparkSession, table_dir: str, files: list) -> DataFrame:
    """An empty frame with the table's schema (one file read filtered false)."""
    from pyspark.sql import functions as F

    return _scan(spark, table_dir, files[:1]).filter(F.lit(False))


def _with_row_identity(spark: SparkSession, table_dir: str, files: list) -> DataFrame:
    """Scan the given data files with (__file, __pos) row identity from
    the parquet reader's metadata column — stable because data files are
    immutable."""
    from pyspark.sql import functions as F

    return (
        _scan(spark, table_dir, files)
        .withColumn("__file", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1))
        .withColumn("__pos", F.col("_metadata.row_index"))
    )


def _read_dv(spark: SparkSession, table_dir: str, dv_files: list) -> DataFrame:
    return spark.read.parquet(*[os.path.join(table_dir, p) for p in dv_files]).select(
        "file", "pos"
    )


def _dv_join(df: DataFrame, dv: DataFrame, how: str) -> DataFrame:
    """Join a row-identified scan to deletion pairs on (file, position);
    AQE picks broadcast when the vector is small (the common case —
    deletes are sparse)."""
    return df.join(dv, (df["__file"] == dv["file"]) & (df["__pos"] == dv["pos"]), how)


def _live(spark: SparkSession, table_dir: str, files: list, dv_files) -> DataFrame:
    """Row-identified scan of `files` without the rows `dv_files` delete."""
    df = _with_row_identity(spark, table_dir, files)
    if not dv_files:
        return df
    return _dv_join(df, _read_dv(spark, table_dir, dv_files), "left_anti")


def _read_rows(spark: SparkSession, table_dir: str, files: list, dv_files) -> DataFrame:
    """The rows of `files` minus deleted ones: a plain scan when no
    deletion vector applies (every pushdown plan property holds)."""
    if not dv_files:
        return _scan(spark, table_dir, files)
    return _live(spark, table_dir, files, dv_files).drop("__file", "__pos")


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    *,
    version: int | None = None,
    tag: str | None = None,
    as_of: float | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Read a pinned snapshot (latest by default; any retained version by
    number — time travel; by TAG name; by BRANCH name — the ref's current
    head; or by `as_of` epoch-seconds timestamp — Delta's TIMESTAMP AS
    OF, resolved against the committed_at stamp every manifest carries).
    The manifest's file list is resolved ONCE at plan time, so the
    DataFrame is immutable under concurrent commits. Retention contract
    (same as Delta's VACUUM rule): a reader is only safe from concurrent
    vacuum while its version stays retained — size keep_last (or pin a
    tag) to cover your longest reader; a reader of an aged-out version
    can lose data files mid-scan. A version pinned BEFORE a schema
    evolution never sees the new columns."""
    if sum(x is not None for x in (version, tag, as_of, branch)) > 1:
        raise ValueError("pass at most one of version, tag, as_of, branch")
    if tag is not None:
        version = _ref_entry(list_tags(table_dir), "tag", tag, table_dir)
    if branch is not None:
        version = _ref_entry(list_branches(table_dir), "branch", branch, table_dir)["head"]
    if as_of is not None:
        version = resolve_as_of(table_dir, as_of)
    v = _head(table_dir) if version is None else version
    manifest = _read_manifest(table_dir, v)
    if not manifest["files"]:
        raise ValueError(f"version {v} has an empty file list")
    return _read_rows(spark, table_dir, manifest["files"], manifest.get("dv"))


def vacuum(
    table_dir: str, *, keep_last: int = 2, orphan_ttl_seconds: float = 3600.0
) -> list[str]:
    """Delete data files unreachable from the `keep_last` most recent
    manifests (and drop older manifests). Returns the deleted file names.
    Never touches files the retained versions reference.

    Uncommitted-file safety: a concurrent writer moves its data/dv files
    into the table dir BEFORE claiming a manifest, so a file referenced
    by NO manifest at all may be an in-flight commit, not garbage —
    such never-referenced files (and `_staging-*` / `_manifest-tmp-*`
    debris) are only swept past `orphan_ttl_seconds` of age (the age
    guard Delta's VACUUM applies to uncommitted files). Files referenced
    by some manifest but not a RETAINED one are ordinary expired history
    and are reclaimed immediately.

    Commits do not take vacuum's lock, so ONE directory listing drives
    the whole pass: the delete pass removes only manifests and files that
    listing held and the scan chose to drop. A version claimed after the
    listing is never touched — removing it would leave its writer
    advancing `_latest` onto a missing manifest."""
    import shutil
    import time as _time

    latest = current_version(table_dir)
    if latest is None:
        return []
    now = _time.time()

    def aged(path: str) -> bool:
        """Older than the orphan TTL (False once something removed it)."""
        try:
            return now - os.path.getmtime(path) > orphan_ttl_seconds
        except FileNotFoundError:
            return False

    for name in os.listdir(table_dir):
        p = os.path.join(table_dir, name)
        if name.startswith(("_staging-", "_manifest-tmp-")) and aged(p):
            with suppress(FileNotFoundError):  # a concurrent cleanup won
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    # retained: the keep_last trailing versions, every tagged version or
    # branch head, and any IN-FLIGHT claim (v > latest — claimed,
    # content-complete, pointer not yet advanced; sweeping it would brick
    # the commit, and it is the append base of the next claim). A crashed
    # claimant's zombie version is passed by the pointer eventually, at
    # which point ordinary retention reclaims it.
    retain_floor = max(0, latest - keep_last + 1)
    # The whole scan+delete pass runs under _tags.lock (round-6 advice),
    # serializing it with every ref update (`_update_refs`): a tag either
    # lands before the scan (pinned) or after the deletes, where
    # create_tag's in-lock manifest check rejects a swept version.
    lock = os.path.join(table_dir, "_tags.lock")
    fd, token = _acquire_lock(lock)

    def heartbeat(i: int) -> None:
        # a huge table dir (or slow storage) can push the pass past the
        # 30 s steal bound, and a stolen lock reopens the dangling-tag
        # race; losing it aborts the pass — files already deleted were
        # unreferenced under the lock we DID hold, so the table is
        # consistent and the remainder waits for the next vacuum
        if i % 200 == 199 and not _heartbeat_lock(lock, token):
            raise TimeoutError(
                f"vacuum lost {lock} mid-pass (stolen at the 30s staleness "
                "bound); aborting the remainder"
            )

    try:
        names = sorted(os.listdir(table_dir))
        manifests: dict[int, dict | None] = {}  # None: unreadable json
        for i, name in enumerate(names):
            heartbeat(i)
            v = _manifest_version(name)
            if v is None:
                continue
            try:
                manifests[v] = _read_manifest(table_dir, v)
            except FileNotFoundError:
                continue  # a prior vacuum already dropped it
            except ValueError:
                manifests[v] = None

        # a `__restore-<epoch>-*` guard tag older than the orphan TTL is
        # debris from a crashed restore_snapshot: prune it (under this
        # lock) instead of letting it pin a version forever
        tags = list_tags(table_dir)

        def stale_guard(n: str) -> bool:
            if not n.startswith("__restore-"):
                return False
            try:
                return now - int(n.split("-")[1]) > orphan_ttl_seconds
            except (IndexError, ValueError):
                return False  # not a machine-made guard name; leave it

        stale = [n for n in tags if stale_guard(n)]
        for n in stale:
            del tags[n]
        if stale:
            _write_refs(_tags_path(table_dir), tags)
        # tags and branch heads pin their versions outside keep_last:
        # a tag is a named promise of reproducibility. Bases need no pin:
        # merge conflict detection compares version NUMBERS only.
        branches = list_branches(table_dir)
        pinned = set(tags.values()) | {b["head"] for b in branches.values()}
        # BRANCH manifests parked above main's pointer that no branch head
        # reaches (a commit_to_branch that crashed between publish and its
        # head CAS, or a rebased branch's old head) would otherwise be
        # retained forever as in-flight claims (round-8 advice): past the
        # orphan TTL they are debris
        reachable: set[int] = set()
        for b in branches.values():
            bv = b["head"]
            while bv not in reachable and "branch" in (manifests.get(bv) or {}):
                reachable.add(bv)
                bv = manifests[bv].get("parent")

        keep_files: set[str] = set()
        # every file ANY listed manifest references, so expired history is
        # told apart from never-referenced (possibly mid-publish) files
        referenced_any: set[str] = set()
        drop: set[int] = set()
        for v, m in manifests.items():
            if m is None:
                if retain_floor <= v <= latest or v in pinned:
                    raise ValueError(
                        f"retained manifest v{v} of {table_dir} is not valid json"
                    )
                drop.add(v)
                continue
            refs = set(m["files"]) | set(m.get("dv", []))
            referenced_any |= refs
            if v < retain_floor and v not in pinned:
                drop.add(v)
                continue
            keep_files |= refs
            stamp = m.get("committed_at")
            if (
                "branch" in m
                and v > latest
                and v not in reachable
                and v not in pinned
                and (
                    now - stamp > orphan_ttl_seconds
                    if stamp is not None
                    else aged(_manifest_path(table_dir, v))
                )
            ):
                # unreachable branch debris: drop the manifest now; the
                # files it alone referenced become never-referenced on the
                # NEXT vacuum and age out through the orphan-TTL sweep
                drop.add(v)

        deleted = []
        for i, name in enumerate(names):
            heartbeat(i)
            p = os.path.join(table_dir, name)
            if _manifest_version(name) in drop:
                with suppress(FileNotFoundError):
                    os.remove(p)
                continue
            if not name.startswith(("data-", "dv-")) or name in keep_files:
                continue
            # never referenced: could be a commit mid-publish — only sweep
            # once it is unambiguously abandoned
            if name not in referenced_any and not aged(p):
                continue
            try:
                os.remove(p)
            except FileNotFoundError:
                continue
            deleted.append(name)
    finally:
        _release_lock(lock, fd, token)
    return deleted


def last_committed_batch(table_dir: str) -> int | None:
    """The stream batch id recorded in the CURRENT version's manifest
    (None for non-streaming commits or empty tables) — the check a
    transactional streaming sink performs before applying a batch, so a
    checkpoint replay of batch N against a table already at batch N is a
    no-op instead of a duplicate."""
    v = current_version(table_dir)
    if v is None:
        return None
    return _read_manifest(table_dir, v).get("batch_id")


def _file_minmax(table_dir: str, name: str, col: str):
    """[min, max] of `col` from a parquet footer, or None when the column
    is absent or any row group lacks statistics (caller leaves the file
    unpruned — never wrong, only less pruned)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(os.path.join(table_dir, name))
    if col not in md.schema.names:
        return None
    idx = md.schema.names.index(col)
    st = [md.row_group(i).column(idx).statistics for i in range(md.num_row_groups)]
    if not st or any(s is None for s in st):
        return None
    return [min(s.min for s in st), max(s.max for s in st)]


def _cluster_stats(table_dir: str, files: list, col: str) -> dict:
    """name -> [min, max] of `col` for every file whose footer has it."""
    return {n: mm for n in files if (mm := _file_minmax(table_dir, n, col)) is not None}


def _zorder_stats(table_dir: str, files: list, cols: list) -> dict:
    """name -> {col: [min, max]} for every file with stats on any of `cols`."""
    stats = {}
    for n in files:
        per_col = {c: mm for c in cols if (mm := _file_minmax(table_dir, n, c)) is not None}
        if per_col:
            stats[n] = per_col
    return stats


def commit_snapshot_clustered(
    df: DataFrame,
    table_dir: str,
    *,
    cluster_col: str,
    n_files: int = 4,
    mode: str = "overwrite",
) -> int:
    """Commit with manifest-level statistics (the Iceberg metadata-pruning
    mechanism): range-cluster rows by `cluster_col` into `n_files` files,
    then record each file's min/max for that column IN THE MANIFEST. A
    predicate read (`read_snapshot_pruned`) drops non-overlapping files
    from the plan before Spark ever lists them — metadata pruning ABOVE
    the parquet-footer level, which is what makes point reads on a
    100 TB table open a handful of files instead of consulting every
    footer. Stats are read from the staged footers before the claim
    (driver-side, bounded by n_files rows of metadata). An append keeps
    the base's stats when the base is clustered on the same column; other
    carried files stay stat-less, and read_snapshot_pruned keeps such
    files unpruned (never wrong, only less pruned)."""
    clustered = df.repartitionByRange(n_files, cluster_col).sortWithinPartitions(
        cluster_col
    )
    return _commit_data(
        clustered,
        table_dir,
        mode,
        None,
        None,
        _CLAIM_RETRIES,
        lambda files: {
            "stats": _cluster_stats(table_dir, files, cluster_col),
            "cluster_col": cluster_col,
        },
    )


def _read_pruned(
    spark: SparkSession, table_dir: str, manifest: dict, overlaps, row_filter
) -> DataFrame:
    """Read only the manifest's files `overlaps` keeps, then apply the
    row-level filter on the survivors; an empty selection keeps the
    schema."""
    keep = [name for name in manifest["files"] if overlaps(name)]
    if not keep:
        return _no_rows(spark, table_dir, manifest["files"])
    return _read_rows(spark, table_dir, keep, manifest.get("dv")).filter(row_filter)


def read_snapshot_pruned(
    spark: SparkSession,
    table_dir: str,
    *,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Read only the files whose [min, max] overlaps [lo, hi] (inclusive),
    then apply the row-level filter on the survivors — manifest pruning +
    footer pruning + row filtering, the full three-level skip stack.
    Falls back to all files for any file missing stats (never wrong,
    only less pruned)."""
    from pyspark.sql import functions as F

    manifest = _read_manifest(table_dir, _head(table_dir) if version is None else version)
    stats = manifest.get("stats", {})
    return _read_pruned(
        spark,
        table_dir,
        manifest,
        lambda n: n not in stats or not (stats[n][1] < lo or stats[n][0] > hi),
        F.col(manifest.get("cluster_col")).between(lo, hi),
    )


_ZORDER_BITS = 16


def _zvalue_expr(cols, lo_hi: dict):
    """Interleaved-bits Z-value over 2+ numeric columns, as a pure Catalyst
    expression (shift/and/or — whole-stage codegen'd, no UDF). Each column
    is min-max scaled to [0, 2^16) with the provided bounds; the scaling
    only shapes the physical LAYOUT, so float rounding here can never
    affect query results."""
    from pyspark.sql import functions as F

    scaled = []
    top = (1 << _ZORDER_BITS) - 1
    for c in cols:
        lo, hi = lo_hi[c]
        span = float(hi) - float(lo)
        if span <= 0:
            scaled.append(F.lit(0).cast("long"))
        else:
            s = F.floor(
                (F.col(c).cast("double") - float(lo)) * (float(top) / span)
            ).cast("long")
            scaled.append(F.greatest(F.least(s, F.lit(top)), F.lit(0)))
    z = F.lit(0).cast("long")
    n = len(cols)
    for b in range(_ZORDER_BITS):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + j))
    return z


def commit_snapshot_zordered(
    df: DataFrame,
    table_dir: str,
    *,
    cluster_cols: list[str],
    n_files: int = 8,
) -> int:
    """Commit with Z-ORDER clustering (Delta/Iceberg OPTIMIZE ZORDER BY):
    rows are range-partitioned and sorted by the interleaved-bits Z-value
    of `cluster_cols`, so a selective predicate on ANY of the clustered
    dimensions overlaps only ~N^((d-1)/d) of N files — the multi-column
    pruning a single-column sort cannot give. Per-file [min,max] is
    recorded in the manifest for EVERY clustered column
    (`read_snapshot_pruned_2d` consumes them), read from the staged
    footers before the claim; the Z-value itself is layout-only and
    never stored."""
    from pyspark.sql import functions as F

    bounds = df.agg(
        *[F.min(c).alias(f"lo_{i}") for i, c in enumerate(cluster_cols)],
        *[F.max(c).alias(f"hi_{i}") for i, c in enumerate(cluster_cols)],
    ).first()
    lo_hi = {
        c: (bounds[f"lo_{i}"], bounds[f"hi_{i}"]) for i, c in enumerate(cluster_cols)
    }
    z = _zvalue_expr(cluster_cols, lo_hi)
    clustered = (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    return _commit_data(
        clustered,
        table_dir,
        "overwrite",
        None,
        None,
        _CLAIM_RETRIES,
        lambda files: {
            "stats2": _zorder_stats(table_dir, files, cluster_cols),
            "zorder": {"cols": list(cluster_cols), "bits": _ZORDER_BITS},
        },
    )


def read_snapshot_pruned_2d(
    spark: SparkSession,
    table_dir: str,
    preds: dict,
) -> DataFrame:
    """Multi-dimension manifest pruning: keep only files whose recorded
    [min,max] overlaps EVERY predicate interval in `preds`
    ({col: (lo, hi)} inclusive), then apply the row-level conjunction on
    the survivors. Files lacking stats for a predicated column are kept
    (pruning must never lose rows)."""
    from pyspark.sql import functions as F

    manifest = _read_manifest(table_dir, _head(table_dir))
    stats2 = manifest.get("stats2", {})

    def overlaps(name: str) -> bool:
        per_col = stats2.get(name, {})
        for c, (lo, hi) in preds.items():
            mm = per_col.get(c)
            if mm is not None and (mm[1] < lo or mm[0] > hi):
                return False
        return True

    row_filter = F.lit(True)
    for c, (lo, hi) in preds.items():
        row_filter = row_filter & F.col(c).between(lo, hi)
    return _read_pruned(spark, table_dir, manifest, overlaps, row_filter)


def compact_snapshot(
    spark: SparkSession,
    table_dir: str,
    *,
    small_file_bytes: int = 8 * 1024 * 1024,
) -> int:
    """OPTIMIZE (small-file compaction): rewrite the current version's
    small files into fewer, larger ones and commit the result as the next
    version — content-identical by construction, old versions untouched
    (time travel still works; `vacuum` reclaims the small files once
    they age out of retention). The append-heavy ingest pattern that
    motivates this (streaming commits, CDC batches) produces thousands of
    KB-scale files at 100 TB, and every reader then pays per-file open
    costs; compaction is the standard maintenance pass.

    Files >= `small_file_bytes` are carried over untouched (no data
    movement — compaction cost is O(small bytes), never O(table)); their
    manifest stats (if any) are carried too. Returns the new version, or
    the CURRENT version unchanged when <2 small files exist (nothing to
    compact). A lost claim to a main commit raises VersionConflictError
    (rule b): re-run against the new current version."""
    from pyspark.sql import functions as F

    v = _head(table_dir)
    manifest = _read_manifest(table_dir, v)
    sizes = {
        name: os.path.getsize(os.path.join(table_dir, name))
        for name in manifest["files"]
    }
    small = [n for n in manifest["files"] if sizes[n] < small_file_bytes]
    big = [n for n in manifest["files"] if sizes[n] >= small_file_bytes]
    if len(small) < 2:
        return v
    total = sum(sizes[n] for n in small)
    target_files = max(1, -(-total // small_file_bytes))  # ceil div
    # deletion vectors are PURGED for the files being rewritten: deleted
    # rows drop out of the compacted files for real
    merged = _read_rows(spark, table_dir, small, manifest.get("dv")).coalesce(
        target_files
    )
    # maintenance keeps the layout and the streaming sink's exactly-once
    # marker: the compacted table still reflects that batch
    content = {
        k: manifest[k] for k in ("batch_id", "cluster_col", "zorder") if k in manifest
    }
    with _staging(table_dir) as staged:
        new_files = _stage_parquet(merged, table_dir, "data", v + 1)
        staged += new_files
        content["files"] = big + new_files
        if manifest.get("dv"):
            # keep only the entries that still target a carried big file,
            # compacted into one fresh sidecar (stale per-file entries
            # would be inert in the anti-join, but bloat every read)
            kept_dv = _read_dv(spark, table_dir, manifest["dv"]).filter(
                F.col("file").isin(big)
            )
            dv_files = _stage_rows(kept_dv.coalesce(1), table_dir, "dv", v + 1)
            staged += dv_files
            if dv_files:
                content["dv"] = dv_files
        # carried files keep their stats; compacted ones get footer stats
        # when the table is clustered (same never-wrong fallback)
        if "stats" in manifest:
            old = manifest["stats"]
            content["stats"] = {n: old[n] for n in big if n in old}
            if manifest.get("cluster_col"):
                col = manifest["cluster_col"]
                content["stats"].update(_cluster_stats(table_dir, new_files, col))
        if "stats2" in manifest:
            old = manifest["stats2"]
            content["stats2"] = {n: old[n] for n in big if n in old}
            if manifest.get("zorder"):
                cols = manifest["zorder"]["cols"]
                content["stats2"].update(_zorder_stats(table_dir, new_files, cols))
        return _claim(
            table_dir,
            v + 1,
            lambda _v: content,
            staged,
            _CLAIM_RETRIES,
            conflict=VersionConflictError,
            base=v,
            ref=None,
        )


def delete_where(
    spark: SparkSession,
    table_dir: str,
    condition,
    *,
    expect_version: int | None = None,
) -> int:
    """Row-level DELETE as a deletion-vector commit: rows of the CURRENT
    version matching `condition` (a Column or SQL string) are recorded as
    (file, row_index) pairs in a sidecar; data files are untouched and
    stay shared with every prior version (time travel still sees the
    rows). Returns the new version — or the current one unchanged when
    nothing matches.

    Concurrency: deletes are NOT commutative with concurrent writes (the
    matched positions were derived from a specific base), so a claim lost
    to a main commit raises VersionConflictError (rule b) — re-run
    against the new current version. Pass expect_version to also fail
    fast when the base moved before the claim."""
    from pyspark.sql import functions as F

    v = _head(table_dir)
    _check_base(table_dir, v, expect_version)
    manifest = _read_manifest(table_dir, v)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    # already-deleted rows can't be deleted twice (keeps sidecars tight)
    matched = (
        _live(spark, table_dir, manifest["files"], manifest.get("dv"))
        .filter(cond)
        .select(F.col("__file").alias("file"), F.col("__pos").alias("pos"))
    )
    with _staging(table_dir) as staged:
        staged += _stage_rows(matched, table_dir, "dv", v + 1)
        if not staged:
            return v  # nothing matched
        content = {**manifest, "dv": manifest.get("dv", []) + staged}
        return _claim(
            table_dir,
            v + 1,
            lambda _v: content,
            staged,
            _CLAIM_RETRIES,
            conflict=VersionConflictError,
            base=v,
            ref=None,
        )


def merge_into(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    on: list,
    *,
    when_matched: str = "update",
    when_not_matched: str = "insert",
    expect_version: int | None = None,
    batch_id: int | None = None,
) -> int:
    """MERGE INTO for versioned tables — the full upsert/delete DML verb,
    composed merge-on-read style from the primitives this module already
    trusts: matched target rows are tombstoned with a deletion-vector
    sidecar (never a file rewrite), and the replacement/insert rows land
    as appended files. ONE new version captures the whole merge; cost is
    O(matched + source), never O(table).

    `on` is the key column list. when_matched: 'update' (source row
    replaces target row) or 'delete' (matched target rows disappear).
    when_not_matched: 'insert' (unmatched source rows are appended) or
    'ignore'. Duplicate keys in `source` are rejected — SQL MERGE raises
    on multiple matches for one target row, and silently picking one
    would make results partition-order-dependent.

    Concurrency: like delete_where, a merge is derived from a specific
    base version, so a claim lost to a main commit raises
    VersionConflictError rather than rebasing silently; pass
    expect_version for fail-fast CAS."""
    from pyspark.sql import functions as F

    if when_matched not in ("update", "delete"):
        raise ValueError(f"unknown when_matched {when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"unknown when_not_matched {when_not_matched!r}")

    v = _head(table_dir)
    _check_base(table_dir, v, expect_version)
    manifest = _read_manifest(table_dir, v)

    dups = source.groupBy(*on).count().filter(F.col("count") > 1).limit(1).collect()
    if dups:
        raise ValueError(
            f"MERGE source has duplicate keys on {on} (e.g. {dups[0]}): "
            "each target row must match at most one source row"
        )

    live = _live(spark, table_dir, manifest["files"], manifest.get("dv"))
    skey = source.select(*on).dropDuplicates(on)
    matched_positions = (
        live.join(skey, on, "left_semi")
        .select(F.col("__file").alias("file"), F.col("__pos").alias("pos"))
    )

    target_cols = [c for c in live.columns if c not in ("__file", "__pos")]
    if when_matched == "update" and when_not_matched == "insert":
        incoming = source.select(*target_cols)  # every source row lands
    elif when_matched == "update":
        incoming = source.join(
            live.select(*on).dropDuplicates(on), on, "left_semi"
        ).select(*target_cols)
    elif when_not_matched == "insert":
        incoming = source.join(
            live.select(*on).dropDuplicates(on), on, "left_anti"
        ).select(*target_cols)
    else:  # delete matched, ignore unmatched: no incoming rows
        incoming = None

    with _staging(table_dir) as staged:
        new_dv = _stage_rows(matched_positions, table_dir, "dv", v + 1)
        staged += new_dv
        new_files = (
            _stage_rows(incoming, table_dir, "data", v + 1)
            if incoming is not None
            else []
        )
        staged += new_files
        if not staged:
            return v  # nothing matched, nothing to insert
        content = {**manifest, "files": manifest["files"] + new_files}
        if new_dv:
            content["dv"] = manifest.get("dv", []) + new_dv
        if batch_id is not None:
            # transactional streaming sink: record which stream batch this
            # merge applied (see last_committed_batch / commit_snapshot)
            content["batch_id"] = batch_id
        return _claim(
            table_dir,
            v + 1,
            lambda _v: content,
            staged,
            _CLAIM_RETRIES,
            conflict=VersionConflictError,
            base=v,
            ref=None,
        )


def read_version_delta(
    spark: SparkSession, table_dir: str, from_version: int, to_version: int
) -> DataFrame:
    """Rows ADDED between two versions of an append-only chain, read from
    ONLY the files the newer manifest added — the manifest diff IS the
    change feed, so incremental consumers (rollup maintenance, CDC
    forwarding, index refresh) scan O(delta), never O(table). Raises when
    the span is not pure-append (a file was removed or deletion vectors
    changed): such a span has removals a file-level diff cannot express —
    use snapshot_diff over time-travel reads there instead."""
    m0 = _read_manifest(table_dir, from_version)
    m1 = _read_manifest(table_dir, to_version)
    if not set(m0["files"]).issubset(set(m1["files"])) or m0.get("dv") != m1.get("dv"):
        raise ValueError(
            f"versions {from_version}..{to_version} of {table_dir} are not an "
            "append-only span (files removed or deletion vectors changed); "
            "use snapshot_diff over read_snapshot(version=...) instead"
        )
    new_files = [n for n in m1["files"] if n not in set(m0["files"])]
    if not new_files:
        return _no_rows(spark, table_dir, m1["files"])
    return _scan(spark, table_dir, new_files)


def restore_snapshot(
    table_dir: str, to_version: int, *, max_retries: int = 20
) -> int:
    """RESTORE (Delta-style rollback): republish an older version's
    content as the NEXT version. Metadata-only — the new manifest simply
    references the target version's data files, deletion vectors, and
    pruning stats, so the commit is O(manifest) regardless of table
    size, the bad intermediate versions stay in history (auditable, and
    still time-travelable until vacuum retention drops them), and the
    pointer keeps moving FORWARD (readers never observe a version number
    decrease — the monotonic-pointer invariant holds).

    Losing a version number to a concurrent writer just re-claims the
    next one (rule a: restore is declarative — "make latest look like
    v{N}" — so re-publishing against a newer base is still exactly what
    the caller asked for). Raises FileNotFoundError if the target
    manifest has been vacuumed away.

    Vacuum safety (round-6 advice): the target version is pinned with a
    temporary `__restore-<epoch>-<uuid>` guard TAG for the duration —
    restore republishes the target's files BY REFERENCE, and a vacuum
    that scanned manifests before the restore manifest was published
    could otherwise delete those files (target outside keep_last and
    untagged), leaving latest pointing at missing data. create_tag
    serializes against vacuum's scan+delete via _tags.lock, so either
    the guard lands first (files pinned) or an already-swept target
    fails the tag's manifest check cleanly. A crashed restore's guard
    tag is pruned by any vacuum after orphan_ttl_seconds."""
    import time as _time

    guard = f"__restore-{int(_time.time())}-{uuid.uuid4().hex}"
    create_tag(table_dir, guard, version=to_version)
    try:
        src = _read_manifest(table_dir, to_version)
        content = {"files": src["files"], "restored_from": to_version}
        content.update((k, src[k]) for k in _CARRIED if k in src)
        prev = current_version(table_dir)
        return _claim(
            table_dir,
            0 if prev is None else prev + 1,
            lambda _v: content,
            [],
            max_retries,
            conflict=None,
            base=None,
            ref=None,
        )
    finally:
        with suppress(KeyError):  # a vacuum past the guard TTL pruned it
            delete_tag(table_dir, guard)


def scratch_table_dir(prefix: str) -> str:
    """Temp table dir for demo/driver queries, reclaimed at interpreter
    exit (atexit) — repeated bench/correctness runs otherwise accumulate
    orphaned table dirs in /tmp. The dir must outlive the query's LAZY
    DataFrame (collected by the caller), so cleanup cannot happen any
    earlier than process exit."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


class ConstraintViolationError(RuntimeError):
    """A commit-time CHECK constraint failed; the commit published nothing."""


def commit_snapshot_checked(
    df: DataFrame,
    table_dir: str,
    *,
    check: str,
    mode: str = "overwrite",
    expect_version: int | None = None,
) -> int:
    """Commit with a Delta-style CHECK constraint: every incoming row must
    satisfy the SQL predicate `check`, or the whole commit is rejected
    BEFORE anything publishes (the table never holds a version that
    violates its contract — enforcement at the table boundary, not in
    every producer). The validation is one aggregate over the incoming
    data only (O(new data)); the error reports the violation count and a
    sample row for debugging."""
    from pyspark.sql import functions as F

    bad = df.filter(~F.expr(check).eqNullSafe(F.lit(True)))
    sample = bad.limit(1).collect()
    if sample:
        n_bad = bad.count()
        raise ConstraintViolationError(
            f"CHECK ({check}) failed for {n_bad} incoming row(s); "
            f"example: {sample[0].asDict()}"
        )
    return commit_snapshot(df, table_dir, mode=mode, expect_version=expect_version)


# --- branches: git-like named refs over the shared version space ---------
#
# Iceberg-style refs: a branch is a named MUTABLE pointer into the same
# global manifest space main uses. Branch commits claim ordinary version
# numbers through `_claim` (main's claims step over them), and only the
# pointer that advances differs: the branch head in `_branches.json`,
# CASed under the `_tags.lock` the tag map shares, which is what
# serializes it against vacuum.


class MergeConflictError(RuntimeError):
    """Main advanced past the branch base — merging would discard main's
    commits. Same posture as a non-FF git merge without a merge
    strategy: the caller must rebase (re-branch from current main and
    re-apply) or abandon."""


def list_branches(table_dir: str) -> dict:
    """name -> {"head": v, "base": v} for every branch (empty if none)."""
    return _read_refs(_branches_path(table_dir))


def create_branch(table_dir: str, name: str) -> int:
    """Fork a branch at the main head. Like tags, the in-lock manifest
    check makes branch-vs-vacuum race-free: the branch either lands
    before vacuum reads the ref maps (head pinned) or a swept version
    fails here instead of becoming a dangling ref."""
    v = _head(table_dir)

    def add(branches: dict) -> None:
        if not os.path.exists(_manifest_path(table_dir, v)):
            raise FileNotFoundError(f"version {v} has no manifest in {table_dir}")
        if name in branches:
            raise ValueError(f"branch {name!r} already exists")
        branches[name] = {"head": v, "base": v}

    _update_refs(table_dir, _branches_path(table_dir), add)
    return v


def delete_branch(table_dir: str, name: str) -> None:
    """Drop a branch ref; its head re-enters ordinary vacuum retention
    (unmerged branch versions become reclaimable history)."""

    def drop(branches: dict) -> None:
        _ref_entry(branches, "branch", name, table_dir)
        del branches[name]

    _update_refs(table_dir, _branches_path(table_dir), drop)


def _max_claimed_version(table_dir: str) -> int:
    """Highest version with a manifest on disk — branch commits must
    claim ABOVE every claim, not just above main's pointer."""
    versions = (_manifest_version(n) for n in os.listdir(table_dir))
    return max((v for v in versions if v is not None), default=-1)


def commit_to_branch(
    df: DataFrame,
    table_dir: str,
    branch: str,
    *,
    mode: str = "overwrite",
    max_retries: int = 20,
) -> int:
    """Commit df as the branch's next version WITHOUT touching main's
    pointer: stage data, claim a fresh global version whose manifest
    records its branch parent (append merges onto the BRANCH head's file
    list, not main's), then CAS the branch head forward under the ref
    lock. A concurrent commit to the same branch loses the CAS and
    raises VersionConflictError — branch writers are expected to be a
    single experiment pipeline, so the conflict surfaces instead of
    silently interleaving."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown mode {mode!r}")
    head = _ref_entry(list_branches(table_dir), "branch", branch, table_dir)["head"]
    base = _read_manifest(table_dir, head) if mode == "append" else None
    version = max(_max_claimed_version(table_dir), head) + 1
    with _staging(table_dir) as staged:
        new_files = _stage_parquet(df, table_dir, "data", version)
        staged += new_files
        content = {"files": new_files, "branch": branch, "parent": head}
        if base is not None:
            content["files"] = base["files"] + new_files
            if base.get("dv"):
                content["dv"] = base["dv"]
        return _claim(
            table_dir,
            version,
            lambda _v: content,
            staged,
            max_retries,
            conflict=None,
            base=None,
            ref=(branch, head, None),
        )


def merge_branch(
    table_dir: str, name: str, *, delete: bool = True, max_retries: int = 20
) -> int:
    """Merge a branch into main by REPUBLISHING the branch head's content
    as an ordinary claimed main commit (metadata-only, O(manifest) — the
    new manifest references the head's files/dv/stats by name, the same
    mechanism restore_snapshot uses). Succeeds only while main still sits
    at the branch BASE (nothing to reconcile); if main advanced — or a
    racing main commit holds a PUBLISHED claim anywhere on the number
    ladder above the base, pointer advanced or not — the claim runs into
    its non-branch manifest and raises MergeConflictError (rule c), and
    the caller rebases.

    Why a claim instead of moving the pointer to the head's number
    (round-8 advice): the head's number can sit BELOW a racing main
    commit's claim, and a pointer teleport then either strands the racer
    (its monotonic advance no-ops while its commit reports success) or is
    itself silently undone when the racer's higher number advances over
    the merged pointer. Claiming a fresh number makes the merge serialize
    through the exact same exclusive-claim protocol as every other commit
    — the pointer only ever moves through claimed numbers, so neither
    side can bypass the other. Returns the NEW main version holding the
    merged content."""
    ref = _ref_entry(list_branches(table_dir), "branch", name, table_dir)
    head, base = ref["head"], ref["base"]
    if head == base:
        # nothing was committed to the branch: merging is a no-op
        if delete:
            delete_branch(table_dir, name)
        return base
    cur = current_version(table_dir)
    if cur != base:
        raise MergeConflictError(
            f"main is at v{cur}, branch {name!r} forked at v{base} — "
            "not fast-forwardable; rebase the branch"
        )
    src = _read_manifest(table_dir, head)
    content = {"files": src["files"], "merged_branch": name, "merged_head": head}
    content.update((k, src[k]) for k in _CARRIED if k in src)
    version = _claim(
        table_dir,
        base + 1,
        lambda _v: content,
        [],
        max_retries,
        conflict=MergeConflictError,
        base=base,
        ref=None,
    )
    if delete:
        delete_branch(table_dir, name)
    return version


def rebase_branch(table_dir: str, name: str, *, max_retries: int = 20) -> int:
    """Re-fork the branch from CURRENT main, re-applying the branch's own
    changes — the documented recovery from a MergeConflictError ("main
    moved; rebase the branch"). Mechanical rebasing is defined for
    APPEND-ONLY branch history: the branch's contribution is exactly the
    files its head references beyond its fork base, and those files are
    re-merged by NAME onto main's current manifest (metadata-only — no
    data movement, O(manifest) like merge/restore). A branch that
    overwrote (head no longer carries every base file) or added row-level
    deletes has no file-additive delta to replay and raises
    MergeConflictError — re-derive it from current main instead, exactly
    as a git rebase with conflicts hands control back.

    The new head claims a fresh version whose manifest carries main's
    CURRENT files + dv + the branch's added files, and the ref CAS (under
    `_tags.lock`, same as commit_to_branch) moves {head, base} to the new
    claim and the new fork point. The abandoned old head becomes an
    unreachable branch manifest that vacuum reclaims past the orphan TTL;
    the branch's data files stay referenced by the new head, so nothing
    the branch added is ever at risk."""
    ref = _ref_entry(list_branches(table_dir), "branch", name, table_dir)
    head, base = ref["head"], ref["base"]
    src = _read_manifest(table_dir, head)
    base_manifest = _read_manifest(table_dir, base)
    base_files = set(base_manifest["files"])
    if not base_files.issubset(src["files"]):
        raise MergeConflictError(
            f"branch {name!r} rewrote its base (overwrite commit) — no "
            "file-additive delta to rebase; re-derive from current main"
        )
    if set(src.get("dv", [])) - set(base_manifest.get("dv", [])):
        raise MergeConflictError(
            f"branch {name!r} carries row-level deletes of its own — "
            "DV positions are base-specific and cannot be rebased; "
            "re-derive from current main"
        )
    added = [n for n in src["files"] if n not in base_files]
    new_base = _head(table_dir)
    main_manifest = _read_manifest(table_dir, new_base)
    content = {"files": main_manifest["files"] + added, "branch": name, "parent": new_base}
    if main_manifest.get("dv"):
        # main's deletes since the fork apply to the rebased view too
        content["dv"] = main_manifest["dv"]
    return _claim(
        table_dir,
        max(_max_claimed_version(table_dir), new_base) + 1,
        lambda _v: content,
        [],
        max_retries,
        conflict=None,
        base=None,
        ref=(name, head, new_base),
    )


def read_changes(
    spark: SparkSession, table_dir: str, from_version: int, to_version: int
) -> DataFrame:
    """NET change feed between two versions — the Delta CDF analog for
    DV-based tables, generalizing `read_version_delta` (append-only
    spans) to spans that also DELETE via deletion-vector commits
    (delete_where / merge_into). Emits every table column plus
    `_change_type` ('insert' | 'delete'); a merge UPDATE surfaces as the
    delete of the old row plus the insert of its replacement, exactly
    how downstream CDC consumers reconcile it.

    Net semantics: a row inserted AND deleted within the span cancels
    out (its file is new and the span's DVs tombstone it) — consumers
    get the span's effect, not its journal. Cost is O(changes), never
    O(table): inserts read only the files the span added; deletes read
    only the old files the span's new DV sidecars actually target.

    Requires the span to remove no data files (compaction/overwrite
    rewrite files without a logical delta a file diff can express —
    raises ValueError; diff time-travel reads there instead). DV
    sidecar lists only ever GROW along delete/merge commits, so the
    span's deletes are exactly the pairs in the new sidecar files."""
    from pyspark.sql import functions as F

    m0 = _read_manifest(table_dir, from_version)
    m1 = _read_manifest(table_dir, to_version)
    files0 = set(m0["files"])
    if not files0.issubset(m1["files"]):
        raise ValueError(
            f"versions {from_version}..{to_version} of {table_dir} removed "
            "data files (overwrite/compaction) — no file-level change feed "
            "exists; diff read_snapshot(version=...) results instead"
        )
    new_files = [n for n in m1["files"] if n not in files0]
    new_dv = [n for n in m1.get("dv", []) if n not in set(m0.get("dv", []))]
    parts = []
    if new_files:
        # a row inserted then deleted inside the span nets out
        ins = _live(spark, table_dir, new_files, new_dv).drop("__file", "__pos")
        parts.append(ins.withColumn("_change_type", F.lit("insert")))
    if new_dv:
        # deletes of PRE-EXISTING rows: pairs targeting old files only;
        # read just the files the sidecars actually name
        dv = _read_dv(spark, table_dir, new_dv)
        hit_files = sorted(
            {r["file"] for r in dv.select("file").distinct().collect()} & files0
        )
        if hit_files:
            old = _with_row_identity(spark, table_dir, hit_files)
            dele = _dv_join(old, dv, "left_semi").drop("__file", "__pos")
            parts.append(dele.withColumn("_change_type", F.lit("delete")))
    if not parts:
        empty = _no_rows(spark, table_dir, m1["files"])
        return empty.withColumn("_change_type", F.lit("insert"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out
