"""Versioned snapshot tables: manifest-pinned file sets with time travel.

The lakehouse table-format core (Delta/Iceberg's essential mechanism)
reduced to its Spark-visible contract, built from primitives this repo
already trusts (parquet parts + atomic manifest publication, the same
commit discipline as `sources/pydatasource.py:ManifestJsonlDataSource`):

* every commit writes NEW parquet files into the table directory, then
  publishes `manifest-v{N}.json` naming exactly the files that make up
  version N, and finally flips the `_latest` pointer by ATOMIC RENAME —
  readers never observe a half-written version;
* a read pins a manifest, so it sees one immutable snapshot regardless
  of concurrent commits (snapshot isolation), and old versions stay
  readable forever until vacuumed (time travel);
* data files are immutable and shared across versions — an overwrite
  logically replaces rows but physically only adds files + one manifest,
  so commits cost O(new data), never O(table);
* `vacuum` deletes files unreachable from any retained manifest — the
  only destructive operation, and it never touches the current version.

At 100 TB this is the difference between "rewrite the table to update
it" and "append new parts + swap a pointer"; the read path is a plain
parquet scan of the pinned file list, so every pushdown/pruning plan
property holds unchanged.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


class VersionConflictError(RuntimeError):
    """Optimistic-concurrency failure: the base version moved underneath a
    commit that pinned `expect_version`. The caller re-reads the table and
    re-derives its change (the standard OCC retry loop)."""


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"manifest-v{version}.json")


def _publish_manifest(table_dir: str, version: int, manifest: dict) -> bool:
    """Atomically CLAIM version N by hard-linking a fully-written temp
    manifest to its final name — link fails if the name exists, so two
    writers can never share a version, and a concurrent reader can never
    observe a half-written manifest (the content exists before the name
    does). Returns False when another writer already claimed N.

    Every manifest is stamped `committed_at` (epoch seconds) HERE — the
    single choke point every committer (commit/restore/compact/clustered/
    zordered/merge) publishes through — which is what read_snapshot's
    `as_of` timestamp travel resolves against. The stamp rides the
    manifest json, not the file mtime, so copies/backups don't corrupt
    time travel. It is clamped to max(previous version's stamp, now):
    resolve_as_of assumes committed_at is monotone in version number,
    which a raw wall clock only guarantees on one host with no NTP
    step-backs (round-7 advice — the same clamp Delta applies, see its
    "timestamp adjusted" commit semantics). When the previous manifest
    is already vacuumed the clamp falls back to now; any stamp it could
    have carried is <= a retained successor's, so resolution order over
    RETAINED versions is unaffected."""
    import time as _time

    stamp = _time.time()
    try:
        with open(_manifest_path(table_dir, version - 1)) as pf:
            prev = json.load(pf).get("committed_at")
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


def _rewrite_manifest(table_dir: str, version: int, manifest: dict) -> None:
    """Atomically REPLACE an already-claimed manifest (stats enrichment by
    the clustered/zordered committers). tmp + os.replace: a concurrent
    reader of the base manifest sees either the old or the new content,
    never a truncation."""
    tmp = os.path.join(table_dir, f"_manifest-tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, _manifest_path(table_dir, version))


def _stage_parquet(df: DataFrame, table_dir: str, prefix: str, version: int) -> list:
    """Write df to a scratch dir and move its part files into the table
    dir as `{prefix}-v{version}-<part>` — the shared staging step of every
    commit path. The moved files are invisible to readers until a
    manifest references them (and vacuum's never-referenced TTL guard
    protects them while the commit is in flight)."""
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


def _unstage(table_dir: str, files: list) -> None:
    """Remove just-staged files on a commit path that raises instead of
    publishing — leaving them would accumulate garbage under contention
    (each caller retry re-stages a fresh copy) until a vacuum past the
    orphan TTL. Matches the cleanup delete_where/merge_into/compact do."""
    for name in files:
        try:
            os.remove(os.path.join(table_dir, name))
        except FileNotFoundError:
            pass


def _staged_rows(table_dir: str, files: list) -> int:
    """Total row count of just-staged files, from footers (driver-side,
    O(files) metadata) — the zero-matches/no-op detection every DV-writing
    path needs."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(table_dir, n)).num_rows for n in files
    )


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
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass  # a stealer raced the check; the lock is theirs now


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


def _claim_owner_is_branch(table_dir: str, version: int) -> bool:
    """Whether the manifest claiming `version` belongs to a BRANCH commit.
    Branch commits park ordinary version numbers in the shared numbering
    without ever moving main's pointer (see the refs section below), so a
    lost claim against one does NOT mean main's snapshot changed — the
    caller may re-claim the next number with its derived state still
    valid (round-8 advice: delete_where/merge_into/CAS commits previously
    raised VersionConflictError forever against a parked branch claim).
    Unreadable/missing manifests conservatively count as main (conflict)."""
    try:
        with open(_manifest_path(table_dir, version)) as f:
            return "branch" in json.load(f)
    except (OSError, ValueError):
        return False


def _in_main_history(table_dir: str, tip: int, version: int) -> bool:
    """Whether `version` is part of MAIN's history when the pointer sits at
    `tip`. Main's chain is: the tip; then, for a fast-forwarded merge head
    (manifest carries `branch`), the branch's `parent` chain; otherwise
    version-1 — skipping over manifests that carry `branch` and were NOT
    reached via a parent pointer (unmerged branch claims parked in the
    shared numbering). A vacuum hole below the walk means `version`
    predates retention — treated as history (it was committed long ago)."""
    v, via_parent = tip, True  # the tip is main state by definition
    for _ in range(100000):  # cycle guard; version numbers only decrease
        if v is None or v < 0:
            return False
        try:
            with open(_manifest_path(table_dir, v)) as f:
                m = json.load(f)
        except (OSError, ValueError):
            return True  # vacuumed history below the retention floor
        if "branch" in m and not via_parent:
            v -= 1  # unmerged branch claim: not main state, keep walking
            continue
        if v == version:
            return True
        if v < version:
            return False
        if "branch" in m:
            v, via_parent = m.get("parent"), True
        else:
            v, via_parent = v - 1, False
    return False


def _verify_mainline(
    table_dir: str, version: int, cleanup_files: list | None = None
) -> None:
    """Post-advance check every MAIN committer runs: a fast-forward merge
    that raced this commit's publish→advance window can move the pointer
    to a branch head whose chain does not contain `version` — the advance
    then no-ops monotonically and the commit would report success while
    its rows are reachable from nothing (round-8 advice). When bypassed,
    roll the publication back (manifest + staged files — leaving them
    would pin garbage above the pointer forever, the same leak as a lost
    branch CAS) and raise so the caller re-derives against the merged
    state. Ordinary concurrent main commits that advanced past us are
    fine: their append base resolution walked through our manifest, so
    the walk finds `version` on the version-1 chain."""
    cur = current_version(table_dir)
    if cur is None or cur == version:
        return
    if cur > version and not _in_main_history(table_dir, cur, version):
        try:
            os.remove(_manifest_path(table_dir, version))
        except FileNotFoundError:
            pass
        if cleanup_files:
            _unstage(table_dir, cleanup_files)
        raise VersionConflictError(
            f"commit v{version} of {table_dir} was bypassed by a concurrent "
            f"branch merge (main fast-forwarded to v{cur}); re-derive "
            "against the merged state"
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

    Write protocol: stage parquet into a scratch dir, move the part
    files into the table dir under unique names, atomically CLAIM the
    next version number by hard-linking the manifest into place, then
    advance the monotonic `_latest` pointer. A reader that raced the
    commit either sees the old pointer (old snapshot) or the new one
    (fully published snapshot) — never a torn state.

    Concurrency (optimistic): two writers can never share a version —
    the loser of the manifest claim RETRIES against the new base
    (appends re-merge onto the winner's file list, which is correct
    because append is commutative; overwrites become
    last-writer-wins). Pass `expect_version` (the version the caller
    read before deriving its change) to demand compare-and-swap
    semantics instead: the commit succeeds only as expect_version + 1,
    else raises VersionConflictError and touches nothing the retry
    loop can't redo. Data file names embed the first-attempt version as
    a debugging hint; the manifest's file list is the only authority."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown mode {mode!r}")
    spark = df.sparkSession
    os.makedirs(table_dir, exist_ok=True)
    prev = current_version(table_dir)
    if expect_version is not None and prev != expect_version:
        raise VersionConflictError(
            f"table {table_dir} is at version {prev}, expected {expect_version}"
        )
    version = 0 if prev is None else prev + 1

    new_files = _stage_parquet(df, table_dir, "data", version)

    # Any exit without a published manifest must unstage the data files —
    # not just the two VersionConflictError paths: an unexpected raise
    # mid-retry (e.g. the base manifest read failing) would otherwise
    # leak orphans until a TTL vacuum. Once the claim has published, the
    # manifest references new_files and they must NOT be removed, even
    # if the pointer advance then fails.
    published = False
    try:
        for _attempt in range(max_retries + 1):
            files = list(new_files)
            dv = []
            if mode == "append":
                # Resolve the append BASE down main's chain, not blindly at
                # version-1: a manifest ABOVE main's pointer carrying a
                # `branch` key is an unmerged branch claim parked in the
                # shared numbering — merging onto it would silently drop
                # main's own rows into the branch's state (round-8 advice).
                # At or below the pointer a manifest IS main state whatever
                # keys it carries (a fast-forwarded merge head keeps its
                # `branch` key), and a non-branch manifest above the
                # pointer is a content-complete main claim whose writer
                # has not flipped the pointer yet — both are valid bases.
                ptr = current_version(table_dir)
                base = version - 1
                base_manifest = None
                while base >= 0:
                    with open(_manifest_path(table_dir, base)) as f:
                        bm = json.load(f)
                    if (ptr is not None and base <= ptr) or "branch" not in bm:
                        base_manifest = bm
                        break
                    base -= 1
                if base_manifest is not None:
                    files = base_manifest["files"] + files
                    # append preserves the base's deletion vectors —
                    # dropping them would resurrect every previously
                    # deleted row (overwrite correctly discards them: the
                    # table is being replaced)
                    dv = list(base_manifest.get("dv", []))
            manifest = {"version": version, "files": files}
            if dv:
                manifest["dv"] = dv
            if batch_id is not None:
                # transactional-sink support: the manifest records which
                # stream batch produced this version, so a replayed batch
                # is detected and skipped (exactly-once) — see
                # last_committed_batch
                manifest["batch_id"] = batch_id
            if _publish_manifest(table_dir, version, manifest):
                published = True
                _advance_pointer(table_dir, version)
                # a racing fast-forward merge can bypass the advance —
                # verify main's chain actually contains us (rolls back and
                # raises otherwise; new_files were referenced only by the
                # rolled-back manifest, so unstaging them is safe)
                try:
                    _verify_mainline(table_dir, version, new_files)
                except VersionConflictError:
                    published = False  # already rolled back in full
                    raise
                return version
            # lost the claim: another writer owns this version number
            if expect_version is not None:
                # a BRANCH commit parked at this number does not move main
                # (round-8 advice): the CAS base is still current — re-check
                # the pointer and re-claim above the parked number
                if (
                    _claim_owner_is_branch(table_dir, version)
                    and current_version(table_dir) == expect_version
                ):
                    version += 1
                    continue
                raise VersionConflictError(
                    f"version {version} of {table_dir} was committed "
                    f"concurrently (base {expect_version} is stale)"
                )
            version += 1
        raise VersionConflictError(
            f"gave up after {max_retries} contended commits to {table_dir}"
        )
    except BaseException:
        if not published:
            _unstage(table_dir, new_files)
        raise


def _tags_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_tags.json")


def list_tags(table_dir: str) -> dict:
    """name -> version map of all tags (empty if none created yet)."""
    try:
        with open(_tags_path(table_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def create_tag(
    table_dir: str, name: str, version: int | None = None, *, overwrite: bool = False
) -> int:
    """Pin a human-named TAG to a version (latest by default) — the
    Iceberg/Delta named-snapshot primitive. Tagged versions are exempt
    from vacuum retention: their manifests and data files survive any
    keep_last window until the tag is deleted, so 'the corpus we trained
    run X on' stays reproducible while ordinary history expires.
    Concurrency: the tag map is rewritten atomically (tmp + rename)
    under the same steal-safe lock protocol the pointer uses, so two
    taggers can never lose each other's update."""
    v = current_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    lock = os.path.join(table_dir, "_tags.lock")
    fd, token = _acquire_lock(lock)
    try:
        # the manifest check lives INSIDE the lock: vacuum holds this
        # same lock across its scan+delete pass (round-6 advice), so
        # either this tag lands before vacuum reads the tag map (version
        # pinned) or vacuum finished first and a swept version fails
        # here instead of becoming a dangling tag
        if not os.path.exists(_manifest_path(table_dir, v)):
            raise FileNotFoundError(f"version {v} has no manifest in {table_dir}")
        tags = list_tags(table_dir)
        if name in tags and not overwrite:
            raise ValueError(f"tag {name!r} already exists (-> v{tags[name]})")
        tags[name] = v
        tmp = _tags_path(table_dir) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(tags, f)
        os.rename(tmp, _tags_path(table_dir))
    finally:
        _release_lock(lock, fd, token)
    return v


def delete_tag(table_dir: str, name: str) -> None:
    """Drop a tag; its version re-enters ordinary vacuum retention."""
    lock = os.path.join(table_dir, "_tags.lock")
    fd, token = _acquire_lock(lock)
    try:
        tags = list_tags(table_dir)
        if name not in tags:
            raise KeyError(f"no tag {name!r} in {table_dir}")
        del tags[name]
        tmp = _tags_path(table_dir) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(tags, f)
        os.rename(tmp, _tags_path(table_dir))
    finally:
        _release_lock(lock, fd, token)


def resolve_as_of(table_dir: str, as_of: float) -> int:
    """Delta-style TIMESTAMP AS OF resolution: the latest RETAINED
    version whose `committed_at` stamp (written by _publish_manifest at
    claim time, so it is monotone in the version number) is <= `as_of`,
    capped at the published pointer (in-flight claims are invisible to
    readers). Raises if every retained manifest is newer — the history
    at that timestamp has been vacuumed, same error posture as Delta's
    earliest-available check."""
    latest = current_version(table_dir)
    if latest is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    best = None
    earliest = None
    for name in os.listdir(table_dir):
        if not name.startswith("manifest-v"):
            continue
        v = int(name.split("manifest-v")[1].split(".")[0])
        if v > latest:
            continue
        try:
            with open(os.path.join(table_dir, name)) as f:
                ts = json.load(f).get("committed_at")
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
    OF, resolved against the committed_at stamp every manifest carries). The manifest's file list is
    resolved ONCE at plan time, so the DataFrame is immutable under
    concurrent commits. Retention contract (same as Delta's VACUUM
    rule): a reader is only safe from concurrent vacuum while its
    version stays retained — size keep_last (or pin a tag) to cover
    your longest reader; a reader of an aged-out version can lose data
    files mid-scan. mergeSchema is always on: an appended version may
    mix files written under an older, narrower schema with newer wide
    ones (schema evolution) — old files surface the new columns as NULL,
    and a version pinned BEFORE the evolution never sees them at all."""
    if sum(x is not None for x in (version, tag, as_of, branch)) > 1:
        raise ValueError("pass at most one of version, tag, as_of, branch")
    if tag is not None:
        tags = list_tags(table_dir)
        if tag not in tags:
            raise KeyError(f"no tag {tag!r} in {table_dir}")
        version = tags[tag]
    if branch is not None:
        branches = list_branches(table_dir)
        if branch not in branches:
            raise KeyError(f"no branch {branch!r} in {table_dir}")
        version = branches[branch]["head"]
    if as_of is not None:
        version = resolve_as_of(table_dir, as_of)
    v = current_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    with open(_manifest_path(table_dir, v)) as f:
        manifest = json.load(f)
    files = manifest["files"]
    if not files:
        raise ValueError(f"version {v} has an empty file list")
    if manifest.get("dv"):
        # merge-on-read: anti-join the deletion sidecars out of the scan
        return _apply_dv(
            spark, table_dir, _with_row_identity(spark, table_dir, files), manifest["dv"]
        )
    return spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(table_dir, p) for p in files]
    )


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
    and are reclaimed immediately."""
    import shutil
    import time as _time

    latest = current_version(table_dir)
    if latest is None:
        return []
    now = _time.time()
    for name in list(os.listdir(table_dir)):
        if name.startswith(("_staging-", "_manifest-tmp-")):
            p = os.path.join(table_dir, name)
            try:
                if now - os.path.getmtime(p) > orphan_ttl_seconds:
                    shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
            except FileNotFoundError:
                pass  # concurrent vacuum / commit finished cleanup first
    # ONE manifest scan builds both retention sets (a prior vacuum with a
    # smaller keep_last may already have dropped older manifests in the
    # keep window — missing ones are simply skipped):
    # * keep (v >= retain_floor): the keep_last trailing versions AND any
    #   IN-FLIGHT claim (v > latest — claimed, content-complete, pointer
    #   not yet advanced; sweeping it would brick the commit. A crashed
    #   claimant's zombie version is passed by the pointer eventually,
    #   at which point ordinary retention reclaims it. The claimed
    #   manifest is also the append base for the NEXT claim, so even a
    #   TTL sweep here would race appenders).
    # * referenced_any: every file ANY manifest on disk references —
    #   computed BEFORE manifests are deleted, so expired history is
    #   distinguishable from never-referenced (possibly mid-publish)
    #   files, which get the orphan-TTL guard below.
    retain_floor = max(0, latest - keep_last + 1)
    # The whole scan+delete pass runs under _tags.lock (round-6 advice):
    # vacuum previously snapshotted the tag map once, so a create_tag
    # landing between that snapshot and the delete pass could have its
    # pinned version swept — a dangling tag. Holding the lock serializes
    # the two: a tag either lands before the scan (pinned) or after the
    # deletes, where create_tag's in-lock manifest check rejects a swept
    # version. The lock's 30 s staleness bound applies — the same bound
    # every other holder accepts; a local-FS manifest sweep is
    # milliseconds.
    tags_lock = os.path.join(table_dir, "_tags.lock")
    fd, token = _acquire_lock(tags_lock)
    try:
        # tagged versions are pinned OUTSIDE the keep_last window: a tag
        # is a named promise of reproducibility, so its manifest and
        # files survive any retention setting until the tag is deleted.
        # Exception: a `__restore-<epoch>-*` guard tag whose epoch is
        # older than orphan_ttl_seconds is debris from a crashed
        # restore_snapshot — prune it (under this lock) instead of
        # letting it pin a version forever.
        tags = list_tags(table_dir)

        def _guard_stale(n: str) -> bool:
            if not n.startswith("__restore-"):
                return False
            try:
                return now - int(n.split("-")[1]) > orphan_ttl_seconds
            except (IndexError, ValueError):
                return False  # not a machine-made guard name; leave it

        stale_guards = [n for n in tags if _guard_stale(n)]
        if stale_guards:
            for n in stale_guards:
                del tags[n]
            tmp = _tags_path(table_dir) + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(tags, f)
            os.rename(tmp, _tags_path(table_dir))
        tagged = set(tags.values())
        # branch HEADS pin like tags (read under this same lock, so a
        # branch either lands before this snapshot or its create/commit
        # re-checks manifests after our deletes). Bases need no pin:
        # merge conflict detection compares version NUMBERS only.
        for b in list_branches(table_dir).values():
            tagged.add(b["head"])
        keep_versions = []
        keep_files: set[str] = set()
        referenced_any: set[str] = set()
        branch_manifests: dict[int, dict] = {}
        for j, name in enumerate(os.listdir(table_dir)):
            if j % 200 == 199 and not _heartbeat_lock(tags_lock, token):
                raise TimeoutError(
                    f"vacuum lost {tags_lock} during the manifest scan"
                )
            if not name.startswith("manifest-v"):
                continue
            v = int(name.split("manifest-v")[1].split(".")[0])
            try:
                with open(os.path.join(table_dir, name)) as f:
                    m = json.load(f)
            except FileNotFoundError:
                continue
            except ValueError:
                if retain_floor <= v <= latest or v in tagged:
                    raise  # a corrupt RETAINED manifest is not vacuumable state
                continue
            if "branch" in m:
                branch_manifests[v] = m
            refs = set(m["files"]) | set(m.get("dv", []))
            referenced_any.update(refs)
            if v >= retain_floor or v in tagged:
                keep_files.update(refs)
                keep_versions.append(v)
        # BRANCH manifests parked above main's pointer that no branch head
        # can reach (a commit_to_branch that crashed between publish and
        # its head CAS) would otherwise be retained forever by the
        # v >= retain_floor in-flight-claim rule (round-8 advice). Walk
        # every live head's parent chain; unreachable branch claims older
        # than the orphan TTL are debris — drop the manifest now, and the
        # files it alone referenced become never-referenced on the NEXT
        # vacuum, aging out through the ordinary orphan-TTL sweep.
        reachable: set[int] = set()
        for b in list_branches(table_dir).values():
            bv = b["head"]
            while bv in branch_manifests and bv not in reachable:
                reachable.add(bv)
                bv = branch_manifests[bv].get("parent")
        for bv, m in branch_manifests.items():
            if bv <= latest or bv in reachable or bv in tagged:
                continue
            age_base = m.get("committed_at")
            if age_base is None:
                try:
                    age_base = os.path.getmtime(
                        _manifest_path(table_dir, bv)
                    )
                except FileNotFoundError:
                    continue
            if now - age_base > orphan_ttl_seconds:
                try:
                    os.remove(_manifest_path(table_dir, bv))
                except FileNotFoundError:
                    pass
                if bv in keep_versions:
                    keep_versions.remove(bv)
        deleted = []
        # Heartbeat the lock every stride entries: a huge table dir (or
        # slow storage) can push this pass past the 30 s steal bound,
        # and a stolen lock mid-delete reopens the dangling-tag race the
        # lock closes. Losing the lock aborts the pass — already-deleted
        # files were unreferenced under the lock we DID hold, so the
        # table is consistent; the remainder waits for the next vacuum.
        hb_stride = 200
        for i, name in enumerate(sorted(os.listdir(table_dir))):
            if i % hb_stride == hb_stride - 1 and not _heartbeat_lock(
                tags_lock, token
            ):
                raise TimeoutError(
                    f"vacuum lost {tags_lock} mid-pass (stolen at the 30s "
                    f"staleness bound); deleted {len(deleted)} files, "
                    "aborting the remainder"
                )
            if (
                (name.startswith("data-") or name.startswith("dv-"))
                and name not in keep_files
            ):
                p = os.path.join(table_dir, name)
                if name not in referenced_any:
                    # never referenced: could be a commit mid-publish —
                    # only sweep once it is unambiguously abandoned
                    try:
                        if now - os.path.getmtime(p) <= orphan_ttl_seconds:
                            continue
                    except FileNotFoundError:
                        continue
                try:
                    os.remove(p)
                except FileNotFoundError:
                    continue
                deleted.append(name)
            elif name.startswith("manifest-v"):
                v = int(name.split("manifest-v")[1].split(".")[0])
                if v not in keep_versions:
                    os.remove(os.path.join(table_dir, name))
    finally:
        _release_lock(tags_lock, fd, token)
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
    with open(_manifest_path(table_dir, v)) as f:
        return json.load(f).get("batch_id")


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
    footer. Stats are read from the just-written footers (driver-side,
    bounded by n_files rows of metadata)."""
    import pyarrow.parquet as pq

    clustered = df.repartitionByRange(n_files, cluster_col).sortWithinPartitions(
        cluster_col
    )
    prev = current_version(table_dir) if mode == "append" else None
    version = commit_snapshot(clustered, table_dir, mode=mode)
    with open(_manifest_path(table_dir, version)) as f:
        manifest = json.load(f)
    # commit_snapshot writes a stats-free manifest, so carried-over files'
    # stats must be copied forward from the PREVIOUS manifest (append mode);
    # file names are version-unique (`data-v{N}-...`) so keys never collide.
    stats = dict(manifest.get("stats", {}))
    if prev is not None:
        with open(_manifest_path(table_dir, prev)) as f:
            stats.update(json.load(f).get("stats", {}))
    for name in manifest["files"]:
        if name in stats:
            continue  # appended-in files from a prior version keep theirs
        md = pq.read_metadata(os.path.join(table_dir, name))
        if cluster_col not in md.schema.names:
            # prior version committed un-clustered or on another column:
            # leave the file stat-less — read_snapshot_pruned keeps such
            # files unpruned (never wrong, only less pruned)
            continue
        idx = md.schema.names.index(cluster_col)
        col_stats = [md.row_group(i).column(idx).statistics for i in range(md.num_row_groups)]
        if not col_stats or any(s is None for s in col_stats):
            continue
        stats[name] = [min(s.min for s in col_stats), max(s.max for s in col_stats)]
    manifest["stats"] = stats
    manifest["cluster_col"] = cluster_col
    _rewrite_manifest(table_dir, version, manifest)
    return version


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
    v = current_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    with open(_manifest_path(table_dir, v)) as f:
        manifest = json.load(f)
    stats = manifest.get("stats", {})
    col = manifest.get("cluster_col")
    keep = [
        name
        for name in manifest["files"]
        if name not in stats or not (stats[name][1] < lo or stats[name][0] > hi)
    ]
    if not keep:
        # empty selection: preserve schema by reading one file filtered-false
        keep = manifest["files"][:1]
        df = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(table_dir, p) for p in keep]
        )
        from pyspark.sql import functions as F

        return df.filter(F.lit(False))
    from pyspark.sql import functions as F

    if manifest.get("dv"):
        df = _apply_dv(
            spark, table_dir, _with_row_identity(spark, table_dir, keep), manifest["dv"]
        )
    else:
        df = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(table_dir, p) for p in keep]
        )
    return df.filter(F.col(col).between(lo, hi))


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
    (`read_snapshot_pruned_2d` consumes them); the Z-value itself is
    layout-only and never stored."""
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
    version = commit_snapshot(clustered, table_dir)
    with open(_manifest_path(table_dir, version)) as f:
        manifest = json.load(f)
    stats2 = dict(manifest.get("stats2", {}))
    for name in manifest["files"]:
        if name in stats2:
            continue
        per_col = {}
        for c in cluster_cols:
            mm = _file_minmax(table_dir, name, c)
            if mm is not None:
                per_col[c] = mm
        if per_col:
            stats2[name] = per_col
    manifest["stats2"] = stats2
    manifest["zorder"] = {"cols": list(cluster_cols), "bits": _ZORDER_BITS}
    _rewrite_manifest(table_dir, version, manifest)
    return version


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

    v = current_version(table_dir)
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    with open(_manifest_path(table_dir, v)) as f:
        manifest = json.load(f)
    stats2 = manifest.get("stats2", {})

    def overlaps(name: str) -> bool:
        per_col = stats2.get(name, {})
        for c, (lo, hi) in preds.items():
            mm = per_col.get(c)
            if mm is not None and (mm[1] < lo or mm[0] > hi):
                return False
        return True

    keep = [name for name in manifest["files"] if overlaps(name)]
    row_filter = None
    for c, (lo, hi) in preds.items():
        cond = F.col(c).between(lo, hi)
        row_filter = cond if row_filter is None else (row_filter & cond)
    if not keep:
        df = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(table_dir, p) for p in manifest["files"][:1]]
        )
        return df.filter(F.lit(False))
    if manifest.get("dv"):
        df = _apply_dv(
            spark, table_dir, _with_row_identity(spark, table_dir, keep), manifest["dv"]
        )
    else:
        df = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(table_dir, p) for p in keep]
        )
    return df.filter(row_filter) if row_filter is not None else df


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
    compact)."""
    v = current_version(table_dir)
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    with open(_manifest_path(table_dir, v)) as f:
        manifest = json.load(f)
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
    merged = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(table_dir, p) for p in small]
    )
    if manifest.get("dv"):
        # PURGE deletion vectors for the files being rewritten: deleted
        # rows drop out of the compacted files for real
        merged = _apply_dv(
            spark, table_dir, _with_row_identity(spark, table_dir, small), manifest["dv"]
        )
    merged = merged.coalesce(target_files)
    version = v + 1
    new_files = _stage_parquet(merged, table_dir, "data", version)

    new_manifest = {"version": version, "files": big + new_files}
    if "batch_id" in manifest:
        # maintenance must not erase the streaming sink's exactly-once
        # marker: the compacted table still reflects that batch
        new_manifest["batch_id"] = manifest["batch_id"]
    if manifest.get("dv"):
        # entries for rewritten files were purged into the new data; keep
        # only the entries that still target a carried big file, compacted
        # into one fresh sidecar (stale per-file entries would be inert in
        # the anti-join, but carrying them bloats every future read)
        dv = spark.read.parquet(
            *[os.path.join(table_dir, p) for p in manifest["dv"]]
        ).select("file", "pos")
        from pyspark.sql import functions as F

        kept_dv = dv.filter(F.col("file").isin(big)).coalesce(1)
        dv_files = _stage_parquet(kept_dv, table_dir, "dv", version)
        if _staged_rows(table_dir, dv_files):
            new_manifest["dv"] = dv_files
        else:
            for n in dv_files:
                os.remove(os.path.join(table_dir, n))
    # carry forward whatever stats the kept files had; recompute for the
    # compacted files when the table is clustered (same falls-back-to-
    # unpruned contract as everywhere else)
    for key in ("stats", "stats2"):
        old = manifest.get(key)
        if old is None:
            continue
        kept = {n: old[n] for n in big if n in old}
        if key == "stats" and manifest.get("cluster_col"):
            for n in new_files:
                mm = _file_minmax(table_dir, n, manifest["cluster_col"])
                if mm is not None:
                    kept[n] = mm
        if key == "stats2" and manifest.get("zorder"):
            for n in new_files:
                per_col = {}
                for c in manifest["zorder"]["cols"]:
                    mm = _file_minmax(table_dir, n, c)
                    if mm is not None:
                        per_col[c] = mm
                if per_col:
                    kept[n] = per_col
        new_manifest[key] = kept
    for key in ("cluster_col", "zorder"):
        if key in manifest:
            new_manifest[key] = manifest[key]
    staged = new_files + new_manifest.get("dv", [])
    while not _publish_manifest(table_dir, version, new_manifest):
        # same branch-claim skip as delete_where: a parked branch claim
        # does not change main, so the compacted content is still the
        # current version's content — re-claim above it (staged file names
        # keep the first-attempt version as a debugging hint; the manifest
        # file list is the only authority, as everywhere else)
        if _claim_owner_is_branch(table_dir, version) and current_version(table_dir) == v:
            version += 1
            new_manifest["version"] = version
            continue
        _unstage(table_dir, staged)
        raise VersionConflictError(
            f"compaction of {table_dir} lost the claim for version {version} "
            "to a concurrent commit; re-run against the new current version"
        )
    _advance_pointer(table_dir, version)
    _verify_mainline(table_dir, version, staged)
    return version


# --- deletion vectors: row-level deletes without rewriting data files
# (the Delta/Iceberg merge-on-read mechanism). A delete commits a SIDECAR
# of (file, row_index) pairs — cost O(matched rows), never O(table) — and
# readers anti-join the sidecar against the scan's _metadata.row_index.
# Compaction PURGES: rewritten files drop their vector entries for real.


def _with_row_identity(spark: SparkSession, table_dir: str, files: list) -> DataFrame:
    """Scan the given data files with (__file, __pos) row identity from
    the parquet reader's metadata column — stable because data files are
    immutable."""
    from pyspark.sql import functions as F

    df = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(table_dir, p) for p in files]
    )
    return df.withColumn(
        "__file", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    ).withColumn("__pos", F.col("_metadata.row_index"))


def _apply_dv(spark: SparkSession, table_dir: str, df: DataFrame, dv_files: list) -> DataFrame:
    """Anti-join the deletion sidecars out of a row-identified scan. The
    join keys on (file, position); AQE picks broadcast when the vector is
    small (the common case — deletes are sparse). Returns the df with
    identity columns dropped."""
    dv = spark.read.parquet(*[os.path.join(table_dir, p) for p in dv_files]).select(
        "file", "pos"
    )
    out = df.join(
        dv,
        (df["__file"] == dv["file"]) & (df["__pos"] == dv["pos"]),
        "left_anti",
    )
    return out.drop("__file", "__pos")


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
    matched positions were derived from a specific base), so a lost
    version claim always raises VersionConflictError — re-run against the
    new current version. Pass expect_version to also fail fast when the
    base moved before the claim."""
    from pyspark.sql import functions as F

    v = current_version(table_dir)
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    if expect_version is not None and v != expect_version:
        raise VersionConflictError(
            f"table {table_dir} is at version {v}, expected {expect_version}"
        )
    with open(_manifest_path(table_dir, v)) as f:
        manifest = json.load(f)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    live = _with_row_identity(spark, table_dir, manifest["files"])
    if manifest.get("dv"):
        # already-deleted rows can't be deleted twice (keeps sidecars tight)
        dv = spark.read.parquet(
            *[os.path.join(table_dir, p) for p in manifest["dv"]]
        ).select("file", "pos")
        live = live.join(
            dv,
            (live["__file"] == dv["file"]) & (live["__pos"] == dv["pos"]),
            "left_anti",
        )
    matched = live.filter(cond).select(
        F.col("__file").alias("file"), F.col("__pos").alias("pos")
    )

    version = v + 1
    new_dv = _stage_parquet(matched, table_dir, "dv", version)
    # zero matches -> no-op at version v (an empty part file may still
    # exist; footers say how many rows actually matched)
    if _staged_rows(table_dir, new_dv) == 0:
        for name in new_dv:
            os.remove(os.path.join(table_dir, name))
        return v

    new_manifest = dict(manifest)
    new_manifest["version"] = version
    new_manifest["dv"] = list(manifest.get("dv", [])) + new_dv
    while not _publish_manifest(table_dir, version, new_manifest):
        # A parked BRANCH claim at this number does not move main
        # (round-8 advice: raising here would fail the delete forever
        # while main never changed). The derived DV positions stay valid
        # as long as main's pointer still reads v — re-claim above it.
        if _claim_owner_is_branch(table_dir, version) and current_version(table_dir) == v:
            version += 1
            new_manifest["version"] = version
            continue
        for name in new_dv:
            os.remove(os.path.join(table_dir, name))
        raise VersionConflictError(
            f"version {version} of {table_dir} was committed concurrently; "
            "re-derive the delete against the new current version"
        )
    _advance_pointer(table_dir, version)
    _verify_mainline(table_dir, version, new_dv)
    return version


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
    base version, so a lost claim raises VersionConflictError rather
    than rebasing silently; pass expect_version for fail-fast CAS."""
    from pyspark.sql import functions as F

    if when_matched not in ("update", "delete"):
        raise ValueError(f"unknown when_matched {when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"unknown when_not_matched {when_not_matched!r}")

    v = current_version(table_dir)
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    if expect_version is not None and v != expect_version:
        raise VersionConflictError(
            f"table {table_dir} is at version {v}, expected {expect_version}"
        )
    with open(_manifest_path(table_dir, v)) as f:
        manifest = json.load(f)

    dups = source.groupBy(*on).count().filter(F.col("count") > 1).limit(1).collect()
    if dups:
        raise ValueError(
            f"MERGE source has duplicate keys on {on} (e.g. {dups[0]}): "
            "each target row must match at most one source row"
        )

    live = _with_row_identity(spark, table_dir, manifest["files"])
    if manifest.get("dv"):
        dv = spark.read.parquet(
            *[os.path.join(table_dir, p) for p in manifest["dv"]]
        ).select("file", "pos")
        live = live.join(
            dv,
            (live["__file"] == dv["file"]) & (live["__pos"] == dv["pos"]),
            "left_anti",
        )
    skey = source.select(*on).dropDuplicates(on)
    matched_positions = (
        live.join(skey, on, "left_semi")
        .select(F.col("__file").alias("file"), F.col("__pos").alias("pos"))
    )

    version = v + 1
    new_dv = _stage_parquet(matched_positions, table_dir, "dv", version)
    if _staged_rows(table_dir, new_dv) == 0:
        for n in new_dv:
            os.remove(os.path.join(table_dir, n))
        new_dv = []

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

    new_files = (
        _stage_parquet(incoming, table_dir, "data", version)
        if incoming is not None
        else []
    )
    if new_files and _staged_rows(table_dir, new_files) == 0:
        for n in new_files:
            os.remove(os.path.join(table_dir, n))
        new_files = []

    if not new_dv and not new_files:
        return v  # nothing matched, nothing to insert

    new_manifest = dict(manifest)
    new_manifest["version"] = version
    new_manifest["files"] = list(manifest["files"]) + new_files
    if new_dv:
        new_manifest["dv"] = list(manifest.get("dv", [])) + new_dv
    if batch_id is not None:
        # transactional streaming sink: record which stream batch this
        # merge applied (see last_committed_batch / commit_snapshot)
        new_manifest["batch_id"] = batch_id
    while not _publish_manifest(table_dir, version, new_manifest):
        # same branch-claim skip as delete_where: main's snapshot did not
        # change, so the derived DV positions and insert set stay valid
        if _claim_owner_is_branch(table_dir, version) and current_version(table_dir) == v:
            version += 1
            new_manifest["version"] = version
            continue
        for n in new_dv + new_files:
            os.remove(os.path.join(table_dir, n))
        raise VersionConflictError(
            f"version {version} of {table_dir} was committed concurrently; "
            "re-derive the merge against the new current version"
        )
    _advance_pointer(table_dir, version)
    _verify_mainline(table_dir, version, new_dv + new_files)
    return version


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
    with open(_manifest_path(table_dir, from_version)) as f:
        m0 = json.load(f)
    with open(_manifest_path(table_dir, to_version)) as f:
        m1 = json.load(f)
    if not set(m0["files"]).issubset(set(m1["files"])) or m0.get("dv") != m1.get("dv"):
        raise ValueError(
            f"versions {from_version}..{to_version} of {table_dir} are not an "
            "append-only span (files removed or deletion vectors changed); "
            "use snapshot_diff over read_snapshot(version=...) instead"
        )
    new_files = [n for n in m1["files"] if n not in set(m0["files"])]
    if not new_files:
        base = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(table_dir, p) for p in m1["files"][:1]]
        )
        from pyspark.sql import functions as F

        return base.filter(F.lit(False))
    return spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(table_dir, p) for p in new_files]
    )


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

    Uses the same optimistic claim loop as commit_snapshot: losing a
    version number to a concurrent writer just re-claims the next one
    (restore is declarative — "make latest look like v{N}" — so
    re-publishing against a newer base is still exactly what the caller
    asked for). Raises FileNotFoundError if the target manifest has been
    vacuumed away.

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
        with open(_manifest_path(table_dir, to_version)) as f:
            src = json.load(f)
        prev = current_version(table_dir)
        version = 0 if prev is None else prev + 1
        for _attempt in range(max_retries + 1):
            manifest = {
                "version": version,
                "files": list(src["files"]),
                "restored_from": to_version,
            }
            # carry EVERY content/metadata key of the target forward: dv
            # (logical content), stats/cluster_col/stats2/zorder (pruning —
            # dropping them would silently full-scan every pruned read), and
            # batch_id (the streaming sink's exactly-once marker: the
            # restored content IS the state as of that batch, so a resumed
            # stream reprocesses exactly the batches after it instead of
            # replaying from scratch — the same rule compact_snapshot
            # follows)
            for key in ("dv", "stats", "cluster_col", "stats2", "zorder", "batch_id"):
                if key in src:
                    manifest[key] = src[key]
            if _publish_manifest(table_dir, version, manifest):
                _advance_pointer(table_dir, version)
                # no staged files to roll back: the manifest references
                # the TARGET version's files, which that manifest keeps
                _verify_mainline(table_dir, version)
                return version
            version += 1
        raise VersionConflictError(
            f"gave up after {max_retries} contended restores of {table_dir}"
        )
    finally:
        try:
            delete_tag(table_dir, guard)
        except KeyError:
            pass  # a vacuum past the guard TTL already pruned it


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
# numbers (the contended-commit retry loop already makes main skip over
# them), so nothing about the manifest/claim protocol changes; only the
# pointer that advances differs. The branch map lives next to the tag map
# and shares _tags.lock, which is what serializes it against vacuum.


class MergeConflictError(RuntimeError):
    """Main advanced past the branch base — a fast-forward would discard
    main's commits. Same posture as a non-FF git merge without a merge
    strategy: the caller must rebase (re-branch from current main and
    re-apply) or abandon."""


def _branches_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_branches.json")


def list_branches(table_dir: str) -> dict:
    """name -> {"head": v, "base": v} for every branch (empty if none)."""
    try:
        with open(_branches_path(table_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _write_branches(table_dir: str, branches: dict) -> None:
    tmp = _branches_path(table_dir) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(branches, f)
    os.rename(tmp, _branches_path(table_dir))


def create_branch(table_dir: str, name: str) -> int:
    """Fork a branch at the main head. Like tags, the
    in-lock manifest check makes branch-vs-vacuum race-free: the branch
    either lands before vacuum reads the ref maps (head pinned) or a
    swept version fails here instead of becoming a dangling ref."""
    v = current_version(table_dir)
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    lock = os.path.join(table_dir, "_tags.lock")
    fd, token = _acquire_lock(lock)
    try:
        if not os.path.exists(_manifest_path(table_dir, v)):
            raise FileNotFoundError(f"version {v} has no manifest in {table_dir}")
        branches = list_branches(table_dir)
        if name in branches:
            raise ValueError(f"branch {name!r} already exists")
        branches[name] = {"head": v, "base": v}
        _write_branches(table_dir, branches)
    finally:
        _release_lock(lock, fd, token)
    return v


def delete_branch(table_dir: str, name: str) -> None:
    """Drop a branch ref; its head re-enters ordinary vacuum retention
    (unmerged branch versions become reclaimable history)."""
    lock = os.path.join(table_dir, "_tags.lock")
    fd, token = _acquire_lock(lock)
    try:
        branches = list_branches(table_dir)
        if name not in branches:
            raise KeyError(f"no branch {name!r} in {table_dir}")
        del branches[name]
        _write_branches(table_dir, branches)
    finally:
        _release_lock(lock, fd, token)


def _max_claimed_version(table_dir: str) -> int:
    """Highest version with a manifest on disk — branch commits must
    claim ABOVE every claim, not just above main's pointer."""
    mx = -1
    for n in os.listdir(table_dir):
        if n.startswith("manifest-v"):
            try:
                mx = max(mx, int(n.split("manifest-v")[1].split(".")[0]))
            except ValueError:
                continue
    return mx


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
    branches = list_branches(table_dir)
    if branch not in branches:
        raise KeyError(f"no branch {branch!r} in {table_dir}")
    head = branches[branch]["head"]
    version = max(_max_claimed_version(table_dir), head) + 1
    new_files = _stage_parquet(df, table_dir, "data", version)
    published = False
    try:
        for _attempt in range(max_retries + 1):
            files = list(new_files)
            dv = []
            if mode == "append":
                with open(_manifest_path(table_dir, head)) as f:
                    base_manifest = json.load(f)
                files = base_manifest["files"] + files
                dv = list(base_manifest.get("dv", []))
            manifest = {
                "version": version,
                "files": files,
                "branch": branch,
                "parent": head,
            }
            if dv:
                manifest["dv"] = dv
            if _publish_manifest(table_dir, version, manifest):
                published = True
                break
            version += 1
        else:
            raise VersionConflictError(
                f"gave up after {max_retries} contended branch commits to "
                f"{table_dir}"
            )
        lock = os.path.join(table_dir, "_tags.lock")
        fd, token = _acquire_lock(lock)
        try:
            branches = list_branches(table_dir)
            cur = branches.get(branch)
            if cur is None or cur["head"] != head:
                # Roll the publication back BEFORE raising: the orphan
                # manifest would otherwise sit above main's pointer
                # forever — vacuum's v >= retain_floor in-flight-claim
                # protection retains it and its data files indefinitely
                # (round-8 advice). With the manifest gone, the staged
                # files are unstaged by the outer handler.
                try:
                    os.remove(_manifest_path(table_dir, version))
                except FileNotFoundError:
                    pass
                published = False
                raise VersionConflictError(
                    f"branch {branch!r} moved (head {cur and cur['head']} != "
                    f"{head}) while committing v{version}"
                )
            branches[branch] = {"head": version, "base": cur["base"]}
            _write_branches(table_dir, branches)
        finally:
            _release_lock(lock, fd, token)
        return version
    except BaseException:
        if not published:
            _unstage(table_dir, new_files)
        raise


def merge_branch(
    table_dir: str, name: str, *, delete: bool = True, max_retries: int = 20
) -> int:
    """Merge a branch into main by REPUBLISHING the branch head's content
    as an ordinary claimed main commit (metadata-only, O(manifest) — the
    new manifest references the head's files/dv/stats by name, the same
    mechanism restore_snapshot uses). Succeeds only while main still sits
    at the branch BASE (nothing to reconcile); if main advanced — or a
    racing main commit holds a PUBLISHED claim anywhere on the number
    ladder above the base, pointer advanced or not — the claim loop runs
    into its non-branch manifest and raises MergeConflictError, and the
    caller rebases.

    Why a claim instead of fast-forwarding the pointer to the head's
    number (round-8 advice): the head's number can sit BELOW a racing
    main commit's claim, and a pointer teleport then either strands the
    racer (its monotonic advance no-ops while its commit reports
    success) or is itself silently undone when the racer's higher number
    advances over the merged pointer. Claiming a fresh number makes the
    merge serialize through the exact same exclusive-claim protocol as
    every other commit — the pointer only ever moves through claimed
    numbers, so neither side can bypass the other. Returns the NEW main
    version holding the merged content."""
    branches = list_branches(table_dir)
    if name not in branches:
        raise KeyError(f"no branch {name!r} in {table_dir}")
    head, base = branches[name]["head"], branches[name]["base"]
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
    with open(_manifest_path(table_dir, head)) as f:
        src = json.load(f)
    version = base + 1
    for _attempt in range(max_retries + 1):
        manifest = {
            "version": version,
            "files": list(src["files"]),
            "merged_branch": name,
            "merged_head": head,
        }
        # carry every content/metadata key of the head forward, exactly
        # like restore_snapshot (dropping dv would resurrect deleted rows;
        # dropping stats would silently full-scan pruned reads)
        for key in ("dv", "stats", "cluster_col", "stats2", "zorder", "batch_id"):
            if key in src:
                manifest[key] = src[key]
        if _publish_manifest(table_dir, version, manifest):
            _advance_pointer(table_dir, version)
            _verify_mainline(table_dir, version)
            if delete:
                delete_branch(table_dir, name)
            return version
        # the ladder rung is taken: a BRANCH claim (this branch's own
        # commits included) just parks the number — step over it; a MAIN
        # claim means main moved (or is mid-commit) past the fork base
        if _claim_owner_is_branch(table_dir, version):
            version += 1
            continue
        raise MergeConflictError(
            f"main commit v{version} landed after branch {name!r} forked "
            f"at v{base} — not fast-forwardable; rebase the branch"
        )
    raise VersionConflictError(
        f"gave up after {max_retries} contended merge attempts on {table_dir}"
    )


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
    branches = list_branches(table_dir)
    if name not in branches:
        raise KeyError(f"no branch {name!r} in {table_dir}")
    head, base = branches[name]["head"], branches[name]["base"]
    with open(_manifest_path(table_dir, head)) as f:
        src = json.load(f)
    with open(_manifest_path(table_dir, base)) as f:
        base_manifest = json.load(f)
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
    new_base = current_version(table_dir)
    if new_base is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    with open(_manifest_path(table_dir, new_base)) as f:
        main_manifest = json.load(f)
    version = max(_max_claimed_version(table_dir), new_base) + 1
    for _attempt in range(max_retries + 1):
        manifest = {
            "version": version,
            "files": list(main_manifest["files"]) + added,
            "branch": name,
            "parent": new_base,
        }
        if main_manifest.get("dv"):
            # main's deletes since the fork apply to the rebased view too
            manifest["dv"] = list(main_manifest["dv"])
        if _publish_manifest(table_dir, version, manifest):
            break
        version += 1
    else:
        raise VersionConflictError(
            f"gave up after {max_retries} contended rebase claims on {table_dir}"
        )
    lock = os.path.join(table_dir, "_tags.lock")
    fd, token = _acquire_lock(lock)
    try:
        branches = list_branches(table_dir)
        cur = branches.get(name)
        if cur is None or cur["head"] != head:
            # same rollback as a lost commit_to_branch CAS: never leave
            # the orphan manifest pinned above main's pointer
            try:
                os.remove(_manifest_path(table_dir, version))
            except FileNotFoundError:
                pass
            raise VersionConflictError(
                f"branch {name!r} moved (head {cur and cur['head']} != "
                f"{head}) while rebasing"
            )
        branches[name] = {"head": version, "base": new_base}
        _write_branches(table_dir, branches)
    finally:
        _release_lock(lock, fd, token)
    return version


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

    with open(_manifest_path(table_dir, from_version)) as f:
        m0 = json.load(f)
    with open(_manifest_path(table_dir, to_version)) as f:
        m1 = json.load(f)
    files0 = set(m0["files"])
    if not files0.issubset(m1["files"]):
        raise ValueError(
            f"versions {from_version}..{to_version} of {table_dir} removed "
            "data files (overwrite/compaction) — no file-level change feed "
            "exists; diff read_snapshot(version=...) results instead"
        )
    new_files = [n for n in m1["files"] if n not in files0]
    new_dv = [n for n in m1.get("dv", []) if n not in set(m0.get("dv", []))]

    def _empty() -> DataFrame:
        base = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(table_dir, p) for p in m1["files"][:1]]
        )
        return base.filter(F.lit(False)).withColumn(
            "_change_type", F.lit("insert")
        )

    if not new_files and not new_dv:
        return _empty()
    dv = (
        spark.read.parquet(*[os.path.join(table_dir, p) for p in new_dv])
        .select("file", "pos")
        if new_dv
        else None
    )
    parts = []
    if new_files:
        ins = _with_row_identity(spark, table_dir, new_files)
        if dv is not None:
            # a row inserted then deleted inside the span nets out
            ins = ins.join(
                dv,
                (ins["__file"] == dv["file"]) & (ins["__pos"] == dv["pos"]),
                "left_anti",
            )
        cols = [c for c in ins.columns if c not in ("__file", "__pos")]
        parts.append(
            ins.select(*cols).withColumn("_change_type", F.lit("insert"))
        )
    if dv is not None:
        # deletes of PRE-EXISTING rows: pairs targeting old files only;
        # read just the files the sidecars actually name
        hit_files = sorted(
            {r["file"] for r in dv.select("file").distinct().collect()}
            & files0
        )
        if hit_files:
            old = _with_row_identity(spark, table_dir, hit_files)
            dele = old.join(
                dv,
                (old["__file"] == dv["file"]) & (old["__pos"] == dv["pos"]),
                "left_semi",
            )
            cols = [c for c in dele.columns if c not in ("__file", "__pos")]
            parts.append(
                dele.select(*cols).withColumn(
                    "_change_type", F.lit("delete")
                )
            )
    if not parts:
        return _empty()
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out
