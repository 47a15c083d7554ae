"""Versioned parquet table with a manifest-commit protocol — the
object-store-safe upsert path.

`operators/upsert.py.merge_upsert` swaps directories with os.rename, which
only exists on a local filesystem. At the 100 TB design point the table
lives on an object store (S3/GCS-style), where there is no atomic rename —
but a single-object PUT *is* atomic, and listing is strongly consistent.
This module commits through that primitive only:

    root/
      _manifests/v00000042.json       <- one small object per committed version
      data/v00000042-<token>/...parquet  <- immutable data dir per ATTEMPT

Commit protocol (write-new-objects only — no rename, no delete, no
overwrite):
  1. write the merged result to a NEW attempt-unique data dir
     `data/v{N+1}-{token}` (racing writers never collide on data objects);
  2. PUT the manifest object `_manifests/v{N+1}.json` — naming the data dir
     that carries this version — with create(overwrite=False).
The table "is" the highest-numbered manifest. A reader resolves the
current version with one listing + one small manifest read and scans an
immutable directory, so a concurrent commit can never show it a
partially-written table, and an in-flight reader of version N keeps a
consistent view while N+1 commits. A crash before step 2 leaves an
orphaned data dir invisible to readers (reclaimed by `vacuum_versions`).
The exclusive manifest create is the single commit point: on HDFS/local it
is create-exclusive; on object stores it maps to a conditional PUT
(If-None-Match), which S3 and GCS both support — two racing writers
produce one winner and one ConcurrentCommitError, never interleaved state.
The loser re-reads the new current version and recomputes its merge.

All filesystem access goes through the Hadoop FileSystem API under the
session's Hadoop conf (sources/io.hadoop_fs), so the same code path serves
file:/, hdfs:/, and s3a:/ URIs; only the local manifest commit opens files
with os, at the path sources/io's path rule gives.

The reference has no DML surface at all (its tables are read-only
registrations, reference src/utils.rs); this module exists for the
incremental-pipeline writeback the brief's 100 TB scenario needs.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from bdt_spark.sources.io import _local_path, hadoop_fs

_MANIFEST_RE = re.compile(r"^v(\d{8})\.json$")


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first. Re-read and retry."""


def table_versions(spark: SparkSession, root: str) -> list[int]:
    """Committed versions (ascending). One listing of the manifest dir."""
    fs, root_p = hadoop_fs(spark, root)
    mdir = root_p.suffix("/_manifests")
    if not fs.exists(mdir):
        return []
    versions = []
    for st in fs.listStatus(mdir):
        m = _MANIFEST_RE.match(st.getPath().getName())
        if m:
            versions.append(int(m.group(1)))
    return sorted(versions)


def current_version(spark: SparkSession, root: str) -> int | None:
    v = table_versions(spark, root)
    return v[-1] if v else None


def read_manifest(spark: SparkSession, root: str, version: int) -> dict:
    fs, root_p = hadoop_fs(spark, root)
    stream = fs.open(root_p.suffix(f"/_manifests/v{version:08d}.json"))
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(text)


def read_versioned(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Scan one immutable version (default: current)."""
    if version is None:
        version = current_version(spark, root)
        if version is None:
            raise ValueError(f"no committed version under {root!r}")
    meta = read_manifest(spark, root, version)
    return spark.read.parquet(f"{root}/{meta['data_dir']}")


def _is_already_exists(e: Exception) -> bool:
    """True only for the exclusive-create collision, not other IO errors."""
    je = getattr(e, "java_exception", None)
    if je is None:
        return isinstance(e, FileExistsError)
    names = []
    cur = je
    while cur is not None:
        try:
            names.append(cur.getClass().getName())
            cur = cur.getCause()
        except Exception:
            break
    return any(
        n.endswith("FileAlreadyExistsException")
        or n.endswith("PathExistsException")
        for n in names
    )


def _commit_manifest(
    spark: SparkSession, root: str, version: int, meta: dict
) -> None:
    """The atomic commit point, then a read-back verification.

    A manifest must become VISIBLE to readers atomically with its FULL
    content. A plain exclusive create() is the wrong primitive for that
    on streaming filesystems: the file becomes visible EMPTY at create
    time and fills on write/close, so a reader listing the manifest dir
    in that window json-parses a torn manifest — and a writer crashing
    mid-stream leaves a permanently empty manifest that current_version
    points at (r11; the committers-race test's polling reader could hit
    the window). Per scheme:

    - file: write a hidden tmp file, fsync, then hard-LINK it to
      the manifest name — link(2) is atomic and fails EEXIST, so
      visibility==content AND exclusivity are one syscall; a crashed
      writer leaves only tmp garbage, which table_versions' name filter
      ignores and vacuum can sweep.
    - hdfs/viewfs: write tmp via the FS API, then fs.rename(tmp, target)
      — a namenode-atomic metadata op that returns false when the
      destination exists (the FileSystem rename contract).
    - object stores: create(overwrite=False) unchanged — a PUT is
      content-atomic (no partial object is ever readable), and it maps
      to a conditional PUT where the stack supports it (S3 If-None-Match
      needs Hadoop 3.4.1+ with fs.s3a.create.conditional.enabled; GCS
      preconditions are native). On an S3A stack WITHOUT conditional
      create it degrades to HEAD-then-PUT where two racing writers can
      both "succeed" with the last PUT winning; the attempt-token
      read-backs below are a NARROWED-WINDOW MITIGATION for that stack,
      not a guarantee — each writer re-reads the manifest (twice, the
      second after a short delay) and fails with ConcurrentCommitError
      unless it still sees its own token. Stores without conditional PUT
      that need hard exclusivity should front the manifest write with an
      external lock (e.g. DynamoDB, the standard S3 answer before
      If-None-Match).
    """
    fs, root_p = hadoop_fs(spark, root)
    mdir_p = root_p.suffix("/_manifests")
    fs.mkdirs(mdir_p)
    target_name = f"v{version:08d}.json"
    meta = dict(meta, attempt=uuid.uuid4().hex)
    payload = json.dumps(meta, sort_keys=True).encode()
    scheme = fs.getUri().getScheme()
    if scheme == "file":
        mdir = _local_path(f"{root}/_manifests")
        tmp = os.path.join(mdir, f".tmp-{target_name}-{meta['attempt']}")
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, os.path.join(mdir, target_name))
        except FileExistsError as e:
            raise ConcurrentCommitError(
                f"version {version} already committed under {root!r}"
            ) from e
        except OSError:
            # link(2) unsupported on this mount (EPERM/ENOTSUP on some
            # NFS/FUSE/SMB setups): fall back to exclusive create. Weaker
            # (visibility precedes content by one write+close), but the
            # payload is a small single write and exclusivity holds via
            # O_EXCL — the pre-r11 behavior for these mounts.
            try:
                with open(os.path.join(mdir, target_name), "xb") as f:
                    f.write(payload)
                    f.flush()
                    os.fsync(f.fileno())
            except FileExistsError as e:
                raise ConcurrentCommitError(
                    f"version {version} already committed under {root!r}"
                ) from e
        finally:
            os.unlink(tmp)
    elif scheme in ("hdfs", "viewfs"):
        tmp_p = mdir_p.suffix(f"/.tmp-{target_name}-{meta['attempt']}")
        out = fs.create(tmp_p, True)
        try:
            out.write(bytearray(payload))
        finally:
            out.close()
        target_p = mdir_p.suffix(f"/{target_name}")
        if not fs.rename(tmp_p, target_p):
            # The FileSystem rename contract returns false for MORE than
            # dest-exists (missing source, parent problems, quota): only
            # report a commit race if the destination manifest actually
            # exists; otherwise surface the rename failure as IO so the
            # version isn't silently abandoned as an orphaned data dir.
            dest_exists = fs.exists(target_p)
            fs.delete(tmp_p, False)
            if dest_exists:
                raise ConcurrentCommitError(
                    f"version {version} already committed under {root!r}"
                )
            raise IOError(
                f"manifest rename failed for version {version} under "
                f"{root!r} (destination absent — not a commit race; check "
                "source path, parent dirs, and quota)"
            )
    else:
        target = mdir_p.suffix(f"/{target_name}")
        try:
            out = fs.create(target, False)  # overwrite=False -> exclusive
        except Exception as e:
            if _is_already_exists(e):
                raise ConcurrentCommitError(
                    f"version {version} already committed under {root!r}"
                ) from e
            raise  # permission / transient IO: surface the real error
        try:
            out.write(bytearray(payload))
        finally:
            out.close()
    # Second, delayed read-back narrows the both-writers-verify-early race
    # window — only worth the fixed sleep on stores whose exclusive create
    # may be non-atomic (object-store schemes: HEAD-then-PUT unless the
    # stack has conditional PUT); local FS/HDFS commits are atomic
    # (O_EXCL / namenode), so one immediate read-back is already just a
    # sanity check and a per-commit sleep would tax every micro-batch for
    # nothing.
    delays = (0.0,) if scheme in ("file", "hdfs", "viewfs") else (0.0, 0.2)
    for delay_s in delays:
        if delay_s:
            time.sleep(delay_s)
        committed = read_manifest(spark, root, version)
        if committed.get("attempt") != meta["attempt"]:
            raise ConcurrentCommitError(
                f"lost non-atomic commit race on version {version} under "
                f"{root!r} (store lacks conditional PUT)"
            )


_CAND_RE = re.compile(r"^cand-(\d{20})-([0-9a-f]{32})\.json$")


def acquire_commit_lease(
    spark: SparkSession,
    root: str,
    version: int,
    settle_s: float = 1.0,
    ttl_s: float = 600.0,
    _clock_skew_ms: int = 0,
) -> str:
    """Candidate-election lease: HARD one-winner exclusivity for version
    `version` on stores whose exclusive create degrades to HEAD-then-PUT
    (no conditional PUT). Returns the winning token; losers raise
    ConcurrentCommitError before any manifest write happens.

    Protocol (write-new-objects + list only — no locks server):
      1. PUT a candidate object `_locks/v{N}/cand-<ts>-<token>.json`
         stamped with this writer's clock (ms);
      2. sleep `settle_s`;
      3. list the candidate dir; the winner is the smallest (ts, token)
         among non-expired candidates — a deterministic total order.

    Guarantee: if every racing writer follows the protocol, clocks agree
    within skew D, and a PUT object is visible to listings within V, then
    `settle_s >= 2*D + V` implies AT MOST ONE writer elects itself.
    (Sketch: suppose A and B both win. WLOG ts_B < ts_A. B's PUT happened
    by ts_B + D wall time < ts_A + D <= put_A + 2D <= (list_A - settle_s)
    + 2D <= list_A - V, so A's listing saw B's lower candidate and A
    conceded — contradiction.) Ties on ts are broken by the random token,
    still a total order. This is a DECLARED-ASSUMPTION guarantee (clock
    skew + listing visibility bound), the standard object-store tradeoff;
    stores with conditional PUT should skip the lease and rely on the
    manifest create itself.

    `ttl_s`: candidates older than this are crashed writers and are
    ignored (and reaped best-effort), so an abandoned lease cannot block
    the version forever. `ttl_s` must comfortably exceed settle_s plus
    the worst-case manifest-write time. `_clock_skew_ms` exists for
    tests to simulate skewed writers.
    """
    fs, root_p = hadoop_fs(spark, root)
    lock_dir = root_p.suffix(f"/_locks/v{version:08d}")
    fs.mkdirs(lock_dir)
    token = uuid.uuid4().hex
    now_ms = int(time.time() * 1000) + _clock_skew_ms
    mine = lock_dir.suffix(f"/cand-{now_ms:020d}-{token}.json")
    out = fs.create(mine, False)
    try:
        out.write(bytearray(json.dumps({"ts_ms": now_ms, "token": token}).encode()))
    finally:
        out.close()
    try:
        time.sleep(settle_s)
        cutoff_ms = int(time.time() * 1000) - int(ttl_s * 1000)
        best: tuple[int, str] | None = None
        if not fs.exists(lock_dir):
            # the whole lock dir is gone: an earlier winner already
            # committed this version and released its lease while we
            # slept — we lost.
            raise ConcurrentCommitError(
                f"version {version} was committed and its lease released "
                f"while settling under {root!r}"
            )
        try:
            statuses = list(fs.listStatus(lock_dir))
        except Exception as e:  # TOCTOU on the exists guard above: a
            # rival can commit + sweep the lock dir between our exists()
            # and this listing — translate the raw FileNotFoundException
            # into the retryable protocol error instead of leaking Py4J
            if "FileNotFoundException" in str(e):
                raise ConcurrentCommitError(
                    f"version {version} was committed and its lease "
                    f"released while settling under {root!r}"
                ) from None
            raise
        for st in statuses:
            m = _CAND_RE.match(st.getPath().getName())
            if not m:
                continue
            ts, tok = int(m.group(1)), m.group(2)
            if ts < cutoff_ms:
                fs.delete(st.getPath(), False)  # expired: crashed writer
                continue
            if best is None or (ts, tok) < best:
                best = (ts, tok)
        if best != (now_ms, token):
            fs.delete(mine, False)  # concede now, don't wait for TTL
            raise ConcurrentCommitError(
                f"lost commit lease election for version {version} under "
                f"{root!r} (winner ts/token {best})"
            )
        if fs.exists(root_p.suffix(f"/_manifests/v{version:08d}.json")):
            # A writer that starts its election AFTER the version
            # committed (and the committer released its lease) can win a
            # fresh election over an empty lock dir — electing it would
            # let a non-atomic store overwrite the committed manifest.
            # The manifest, not the election, is the source of truth:
            # concede.
            fs.delete(mine, False)
            raise ConcurrentCommitError(
                f"version {version} is already committed under {root!r}"
            )
        return token
    except ConcurrentCommitError:
        raise  # protocol outcomes above already removed our candidate
    except BaseException:
        # NON-protocol failure (interrupt, transient store error) after
        # our candidate PUT: leaving the candidate would block this
        # version for every writer (self included) until ttl_s expires.
        # Best-effort delete our own candidate — never a rival's — then
        # re-raise the original error.
        try:
            fs.delete(mine, False)
        except Exception:
            pass
        raise


def release_commit_lease(
    spark: SparkSession, root: str, version: int, token: str | None = None
) -> None:
    """Drop lease scaffolding (the manifest itself is the source of truth).

    `token=None` (post-commit): the whole candidate dir goes — the version
    is durably committed, any still-settling rival hits the missing-dir
    concede path in acquire_commit_lease. `token` given (commit FAILED
    after winning the election): delete only THIS writer's candidate, so
    the version stays retryable immediately — leaving the winning
    candidate behind would block every retry (own and rivals') for ttl_s,
    while deleting rivals' candidates mid-settle could hand two writers
    the same election."""
    fs, root_p = hadoop_fs(spark, root)
    lock_dir = root_p.suffix(f"/_locks/v{version:08d}")
    if token is None:
        fs.delete(lock_dir, True)
        return
    if not fs.exists(lock_dir):
        return  # a rival committed and swept the dir — nothing to clean
    for st in fs.listStatus(lock_dir):
        m = _CAND_RE.match(st.getPath().getName())
        if m and m.group(2) == token:
            fs.delete(st.getPath(), False)


def write_versioned(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    version: int | None = None,
    lease_settle_s: float | None = None,
) -> int:
    """Commit `df` as the next full version (initial load or replace).
    Returns the committed version number.

    `version` pins the target a writer resolved BEFORE computing its merge
    (optimistic concurrency): if a rival committed that version in the
    meantime, the manifest PUT loses and ConcurrentCommitError is raised —
    the caller re-reads the new current version and retries its merge
    against it. Default: resolve the next version at write time.

    `lease_settle_s`: when set, the commit is fronted by the candidate-
    election lease (acquire_commit_lease) — the HARD-exclusivity option
    for object stores without conditional PUT. The data dir is written
    BEFORE the election so the lease is held only across the (small)
    manifest commit, not the (large) data write; the election runs under
    the declared clock-skew/visibility assumption documented on
    acquire_commit_lease."""
    if version is None:
        version = (current_version(spark, root) or 0) + 1
    rel = f"data/v{version:08d}-{uuid.uuid4().hex[:12]}"
    df.write.mode("errorifexists").parquet(f"{root}/{rel}")
    n = spark.read.parquet(f"{root}/{rel}").count()
    lease_token: str | None = None
    try:
        if lease_settle_s is not None:
            lease_token = acquire_commit_lease(
                spark, root, version, settle_s=lease_settle_s
            )
        _commit_manifest(spark, root, version, {"rows": n, "data_dir": rel})
    except ConcurrentCommitError:
        # loser's attempt dir is orphaned and invisible to readers;
        # best-effort reclaim now, vacuum_versions handles the crash case
        fs, root_p = hadoop_fs(spark, root)
        fs.delete(root_p.suffix(f"/{rel}"), True)
        if lease_token is not None:
            release_commit_lease(spark, root, version, token=lease_token)
        raise
    except Exception:
        # transient IO after winning the election: drop OUR candidate so
        # the version stays immediately retryable instead of stalling
        # every writer behind the abandoned winner for ttl_s
        if lease_token is not None:
            release_commit_lease(spark, root, version, token=lease_token)
        raise
    if lease_settle_s is not None:
        release_commit_lease(spark, root, version)
    return version


def merge_upsert_versioned(
    spark: SparkSession,
    root: str,
    delta: DataFrame,
    key_cols: list[str],
    broadcast_delta: bool = True,
    lease_settle_s: float | None = None,
) -> int:
    """Upsert `delta` into the versioned table by `key_cols`; commit as a
    new version. Returns the committed version number.

    Same merge as merge_upsert (delta ANTI-joined against base, small delta
    broadcast), but the result lands in a fresh immutable data dir and
    becomes visible only at the manifest PUT — safe on object stores and
    under concurrent readers. The target version is pinned to base+1, so a
    rival landing in between surfaces as ConcurrentCommitError instead of
    silently overwriting its merge."""
    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    base_version = current_version(spark, root)
    if base_version is None:
        raise ValueError(f"no committed version under {root!r}")
    base = read_versioned(spark, root, base_version)
    from bdt_spark.operators.upsert import validate_merge_inputs

    validate_merge_inputs(base, delta, key_cols)
    keys = delta.select(*key_cols).distinct()
    if broadcast_delta:
        keys = F.broadcast(keys)
    merged = base.join(keys, key_cols, "left_anti").unionByName(delta)
    return write_versioned(
        spark, root, merged, version=base_version + 1,
        lease_settle_s=lease_settle_s,
    )


def vacuum_versions(
    spark: SparkSession,
    root: str,
    keep_last: int = 2,
    orphan_min_age_s: float = 24 * 3600,
) -> list[int]:
    """Delete data dirs (and manifests) of all but the newest `keep_last`
    versions, plus orphaned attempt dirs no manifest references (crashed
    or lost-race commits) and crashed writers' staged .tmp manifest
    files. Returns removed versions (orphans as their version number).
    Run only when no reader can still hold a handle older than the
    retained window.

    `orphan_min_age_s`: an unreferenced attempt dir younger than this is
    NOT an orphan — it may belong to an in-flight writer that has staged
    its data but not yet PUT the manifest; deleting it would let that
    commit land pointing at nothing. The default (24 h) outlives any
    reasonable write job; pass 0 only when no writer can be in flight."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    import time as _time
    fs, root_p = hadoop_fs(spark, root)
    versions = table_versions(spark, root)
    keep = set(versions[-keep_last:])
    referenced = {
        read_manifest(spark, root, v)["data_dir"].split("/", 1)[1]
        for v in keep
    }
    removed = []
    for v in versions:
        if v in keep:
            continue
        meta = read_manifest(spark, root, v)
        fs.delete(root_p.suffix(f"/{meta['data_dir']}"), True)
        fs.delete(root_p.suffix(f"/_manifests/v{v:08d}.json"), False)
        removed.append(v)
    ddir = root_p.suffix("/data")
    cutoff_ms = (_time.time() - orphan_min_age_s) * 1000
    if fs.exists(ddir):
        for st in fs.listStatus(ddir):
            name = st.getPath().getName()
            m = re.match(r"^v(\d{8})-", name)
            if (
                m
                and name not in referenced
                and int(m.group(1)) not in keep
                and st.getModificationTime() <= cutoff_ms
            ):
                fs.delete(st.getPath(), True)  # orphan: commit never landed
                removed.append(int(m.group(1)))
    # tmp manifest garbage from crashed commits (r11: the commit point
    # stages .tmp-v...json-<attempt> then links/renames it into place;
    # winners and clean losers unlink their own tmp, so anything left is
    # a crash). Same age gate as orphan data dirs: a younger tmp may
    # belong to a writer currently between tmp-write and link — deleting
    # it would turn that writer's clean ConcurrentCommitError into a
    # FileNotFoundError.
    mdir = root_p.suffix("/_manifests")
    if fs.exists(mdir):
        for st in fs.listStatus(mdir):
            name = st.getPath().getName()
            if (
                re.match(r"^\.tmp-v(\d{8})\.json-", name)
                and st.getModificationTime() <= cutoff_ms
            ):
                fs.delete(st.getPath(), False)
    return sorted(removed)
