"""Segment compaction (SURVEY §3.3 step 5).

Reference: small segments are merged toward 512MB-1GB targets by
re-reading with schema union and re-sorting on the family sort key
(docs/design/OVERVIEW.md:76-99; writer_logs_duckdb.go:214-266 does
``read_parquet([...], union_by_name=true) ORDER BY ...``).

Spark-first: a batch job per (org_id, dateint[, frequency_ms])
partition — mergeSchema scan of that partition's files, repartition to
ceil(bytes/target) output files, sortWithinPartitions on the family
sort key, atomic directory swap. At 100 TB compaction parallelizes per
partition and never touches healthy partitions (plan_compaction
selects only partitions whose mean file size is below threshold).
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import SparkSession

from lakerunner_spark.schema import SEGMENT_SORT_KEYS

TARGET_SEGMENT_BYTES = 768 * 1024 * 1024  # mid of the 512MB-1GB band


def plan_compaction(
    partition_dir: str,
) -> dict | None:
    """Inspect one partition directory; return a compaction task or None.

    Eligible when mean parquet file size < half the target segment size
    and there is more than one file (OVERVIEW.md:82 'optimal segment
    size' heuristic).
    """
    files = [
        os.path.join(partition_dir, f)
        for f in os.listdir(partition_dir)
        if f.endswith(".parquet")
    ]
    if len(files) <= 1:
        return None
    total = sum(os.path.getsize(f) for f in files)
    if total / len(files) >= 0.5 * TARGET_SEGMENT_BYTES:
        return None
    return {
        "dir": partition_dir,
        "files": sorted(files),
        "total_bytes": total,
        "target_files": max(1, math.ceil(total / TARGET_SEGMENT_BYTES)),
    }


def plan_table_compaction(
    table_path: str,
    stale_after_s: float = 6 * 3600,
    strict: bool = False,
    damaged_out: list[tuple[str, str]] | None = None,
) -> list[dict]:
    """Walk a partitioned table tree; one task per fragmented partition.

    Healthy partitions produce no task, so the sweep cost is directory
    metadata only — at 100 TB this runs as a scheduled job enumerating
    partitions, then `compact_segments` tasks fan out per partition.
    Crashed transactions are repaired inline (commit records replay
    idempotently; pre-commit staging is only garbage-collected after
    ``stale_after_s`` so a concurrently RUNNING compaction's staging dir
    is never yanked out from under it).

    A partition whose recovery FAILS (e.g. a commit record whose staged
    data was lost) is isolated, not fatal: it is skipped and appended to
    the caller-owned ``damaged_out`` list so one damaged partition can't
    block planning/repair for the whole table (a caller-owned list, not
    a function attribute, so concurrent sweeps can't clobber each
    other's reports). Pass ``strict=True`` to raise instead after the
    full walk.
    """
    tasks: list[dict] = []
    damaged: list[tuple[str, str]] = (
        damaged_out if damaged_out is not None else []
    )
    for root, dirs, files in os.walk(table_path):
        # staging trees are transaction-private: never descend (a crashed
        # write's _temporary attempt dirs hold .parquet that must not be
        # mistaken for a partition)
        dirs[:] = [d for d in dirs if not d.startswith("_compact_")]
        if any(f.endswith(".parquet") for f in files):
            try:
                recover_compaction(root, stale_after_s=stale_after_s)
            except RuntimeError as e:
                damaged.append((root, str(e)))
                continue  # never plan over an undecided transaction
            task = plan_compaction(root)
            if task:
                tasks.append(task)
    if damaged and strict:
        raise RuntimeError(
            f"{len(damaged)} partition(s) need manual compaction repair: "
            f"{[d for d, _ in damaged][:5]}"
        )
    return sorted(tasks, key=lambda t: t["dir"])


def _commit_path(partition_dir: str, txid: str) -> str:
    return os.path.join(partition_dir, f"_compact_commit_{txid}.json")


def _lock_path(partition_dir: str) -> str:
    return os.path.join(partition_dir, "_compact_lock.json")


def _staging_path(partition_dir: str, txid: str) -> str:
    return os.path.join(
        os.path.dirname(partition_dir),
        f"_compact_{txid}_{os.path.basename(partition_dir)}",
    )


def _lock_staleness(
    partition_dir: str, stale_after_s: float
) -> tuple[bool, str | None]:
    """(is_stale, holder_txid) for the partition's compaction lock.

    Stale means BOTH the lock file and its holder transaction's staging
    tree have been idle for ``stale_after_s`` (the staging tree is where
    a live pre-commit writer shows a heartbeat). An absent lock is never
    stale (nothing to break)."""
    import contextlib
    import json
    import time

    path = _lock_path(partition_dir)
    holder = None
    with contextlib.suppress(OSError, ValueError):
        with open(path) as f:
            holder = json.load(f).get("txid")
    newest = _newest_mtime(path)
    if holder:
        newest = max(newest, _newest_mtime(_staging_path(partition_dir, holder)))
    return (newest > 0 and time.time() - newest >= stale_after_s), holder


# breaking a stale lock takes milliseconds; a break mutex older than
# this belongs to a crashed breaker and may itself be cleared
_BREAK_MUTEX_STALE_S = 60.0


def _break_if_stale(partition_dir: str, stale_after_s: float) -> tuple[bool, str | None]:
    """Break the partition's compaction lock iff it is stale; returns
    (broken, holder_txid).

    The break is serialized through a short-lived O_EXCL break mutex.
    Check-then-remove without it is a double-compaction hole: two sweeps
    both judge the SAME lock stale, the first removes it and immediately
    re-acquires via O_EXCL, and the second's delete then lands on the
    winner's FRESH lock — both believe they hold the partition, both
    stage and publish commits over the same old_files, and every row is
    silently duplicated. Holding the mutex, the breaker re-verifies
    staleness (the lock may have turned over since the pre-mutex check)
    before removing, and non-breakers can never remove a lock at all.
    A breaker that crashes mid-break strands only the mutex, which is
    cleared after ``_BREAK_MUTEX_STALE_S`` (the critical section is
    milliseconds). Local/NFS POSIX semantics; on object stores swap the
    O_EXCL create for a conditional put."""
    import contextlib
    import time

    path = _lock_path(partition_dir)
    bpath = path + ".break"
    stale, holder = _lock_staleness(partition_dir, stale_after_s)
    if not stale:
        return False, holder
    with contextlib.suppress(OSError):
        if time.time() - os.path.getmtime(bpath) >= _BREAK_MUTEX_STALE_S:
            os.remove(bpath)
    try:
        os.close(os.open(bpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except FileExistsError:
        # another sweep is mid-break; treat the lock as held — the
        # breaker (or the next sweep) will finish the job
        return False, holder
    try:
        stale, holder = _lock_staleness(partition_dir, stale_after_s)
        if not stale:
            return False, holder
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)
        return True, holder
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(bpath)


def _acquire_lock(partition_dir: str, txid: str, stale_after_s: float) -> None:
    """Exclusive per-partition compaction intent lock (O_CREAT|O_EXCL —
    atomic on POSIX local/NFS; on object stores swap for a conditional
    put). Fences the double-compaction race: without it two sweeps can
    both stage, both commit, and both roll forward over the same input
    files — every row silently duplicated. A crashed holder's lock is
    broken via :func:`_break_if_stale` (serialized, re-verified)."""
    import json
    import time

    path = _lock_path(partition_dir)
    for _ in range(2):  # second try after breaking a stale lock
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                os.write(
                    fd,
                    json.dumps(
                        {"txid": txid, "pid": os.getpid(), "ts": time.time()}
                    ).encode(),
                )
                os.fsync(fd)
            finally:
                os.close(fd)
            return
        except FileExistsError:
            broken, holder_txid = _break_if_stale(partition_dir, stale_after_s)
            if broken:
                continue
            raise RuntimeError(
                f"compaction of {partition_dir} already in progress "
                f"(lock held by txid {holder_txid}); not re-compacting"
            )
    raise RuntimeError(f"could not acquire compaction lock: {path}")


def _release_lock(partition_dir: str, txid: str) -> None:
    """Remove the lock only if this transaction still owns it."""
    import contextlib
    import json

    path = _lock_path(partition_dir)
    with contextlib.suppress(OSError, ValueError):
        with open(path) as f:
            if json.load(f).get("txid") != txid:
                return
        os.remove(path)


def _fsync_path(path: str) -> None:
    """fsync a file or directory by descriptor."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _write_commit(partition_dir: str, txid: str, record: dict) -> str:
    """Atomically publish the commit record (temp file + rename — the
    rename IS the transaction point). The file is fsync'd before the
    rename and the DIRECTORY after it, so the rename's directory entry
    is durable before any old-file deletion may hit disk — without the
    directory fsync a crash could persist a later unlink but not the
    rename, losing data with no record to roll forward."""
    import json

    path = _commit_path(partition_dir, txid)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    _fsync_path(partition_dir)
    return path


def _newest_mtime(path: str) -> float:
    """Newest mtime anywhere in a tree — a live Spark staging write
    touches files under ``_temporary`` without touching the top-level
    dir, so the top-level mtime alone would misjudge liveness."""
    import contextlib

    newest = 0.0
    with contextlib.suppress(OSError):
        newest = os.path.getmtime(path)
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            with contextlib.suppress(OSError):
                newest = max(newest, os.path.getmtime(os.path.join(root, name)))
    return newest


def recover_compaction(
    partition_dir: str, stale_after_s: float = 6 * 3600
) -> str | None:
    """Repair a partition after a compaction crash; returns the action
    taken ('rolled_forward' | 'rolled_back' | None).

    Protocol invariants (see :func:`compact_segments`):
    - no commit record present -> the transaction never happened; any
      staging directory is garbage (original files are all intact,
      because old-file deletion only starts after the commit record is
      published). Roll BACK: delete staging — but only once nothing in
      its TREE has been modified for ``stale_after_s`` (a compaction
      that is STILL RUNNING pre-commit keeps writing under
      ``_temporary``; "crashed" is indistinguishable from "in flight"
      without an age threshold, so the safe default is hours — pass 0
      only when no compaction can be in flight).
    - commit record present -> the transaction is decided. Roll
      FORWARD by replaying the record; every step is guarded so the
      replay is idempotent and tolerates the original writer (or a
      concurrent recovery) finishing the same step first. Old files are
      deleted ONLY after every staged replacement is verified in place;
      a record whose staged data is missing raises instead of silently
      discarding the only remaining copy.
    """
    import contextlib
    import glob
    import json
    import time

    def _old_enough(path: str) -> bool:
        newest = _newest_mtime(path)
        return newest > 0 and time.time() - newest >= stale_after_s

    action = None
    # a crash inside _write_commit can strand a .tmp record: the txn
    # never committed (the rename is the commit point) -> plain garbage
    for tmp in glob.glob(os.path.join(partition_dir, "_compact_commit_*.json.tmp")):
        if _old_enough(tmp):
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
    for commit in sorted(glob.glob(os.path.join(partition_dir, "_compact_commit_*.json"))):
        try:
            with open(commit) as f:
                rec = json.load(f)
        except FileNotFoundError:  # another recovery just finished it
            continue
        for src, dst in rec["moves"]:
            if os.path.exists(src) and not os.path.exists(dst):
                with contextlib.suppress(FileNotFoundError):
                    shutil.move(src, dst)
        missing = [dst for _src, dst in rec["moves"] if not os.path.exists(dst)]
        if missing:
            raise RuntimeError(
                f"compaction commit {commit} cannot be rolled forward: "
                f"staged replacements missing ({missing[:3]}...); old "
                f"files preserved for manual repair"
            )
        for old in rec["old_files"]:
            with contextlib.suppress(FileNotFoundError):
                os.remove(old)
        shutil.rmtree(rec["staging"], ignore_errors=True)
        with contextlib.suppress(FileNotFoundError):
            os.remove(commit)
        # the crashed writer never released its lock; its txid is in the
        # commit filename
        txid = os.path.basename(commit)[len("_compact_commit_"):-len(".json")]
        _release_lock(partition_dir, txid)
        action = "rolled_forward"
    if action is None:
        import re

        parent = os.path.dirname(partition_dir)
        base = os.path.basename(partition_dir)
        # STRICT name parse, not a glob ending in _{base}: a bare glob
        # `_compact_*_{base}` also matches a SIBLING partition's staging
        # when one basename is an underscore-suffix of another (e.g.
        # `type=a` matching `_compact_<tx>_sub_type=a`), deleting a
        # foreign transaction's staged data. The txid is always 8 hex
        # chars (compact_segments), so require exactly
        # `_compact_<8hex>_<base>` and never touch anything else.
        pat = re.compile(r"^_compact_([0-9a-f]{8})_(.+)$")
        for name in os.listdir(parent) if os.path.isdir(parent) else []:
            m = pat.match(name)
            if not m or m.group(2) != base:
                continue
            # pre-commit garbage only: a txid with a commit record is
            # decided and belongs to the roll-forward path above
            if os.path.exists(_commit_path(partition_dir, m.group(1))):
                continue
            stale = os.path.join(parent, name)
            if _old_enough(stale):
                shutil.rmtree(stale, ignore_errors=True)
                action = "rolled_back"
        # a pre-commit crash also strands the lock; break it by the same
        # serialized, re-verified staleness rule _acquire_lock uses
        if os.path.exists(_lock_path(partition_dir)):
            _break_if_stale(partition_dir, stale_after_s)
    return action


def compact_segments(
    spark: SparkSession,
    task: dict,
    family: str,
    stale_after_s: float = 6 * 3600,
) -> int:
    """Execute one compaction task; returns the output file count.

    Crash-safe write-ahead protocol (temp dir + manifest commit — the
    same transactional shape Structured Streaming's file-sink manifest
    gives the T4 path; the reference gets it from upload-then-republish
    + Postgres registration, OVERVIEW.md:277):

    0. acquire the partition's exclusive intent lock, then re-verify the
       planned input files still exist (plan-to-execute races: another
       worker may have compacted this partition since planning);
    1. write compacted output to a sibling staging dir; verify _SUCCESS;
    2. atomically publish a commit record (tmp + rename) listing the
       planned moves and the old files — this rename is the txn point;
    3. move new files in, delete old files, drop the record, release
       the lock.

    A crash before (2) leaves the original segments untouched (staging
    and lock are garbage-collected by :func:`recover_compaction`); a
    crash after (2) is rolled forward by replaying the record. Run
    recover_compaction over partitions at job start.
    """
    import contextlib
    import glob

    sort_keys = SEGMENT_SORT_KEYS[family]
    txid = uuid.uuid4().hex[:8]
    _acquire_lock(task["dir"], txid, stale_after_s)
    try:
        # an undecided commit record means a crashed transaction whose
        # roll-forward hasn't run; compacting on top of it would publish
        # a second record over the same old_files — replaying both
        # duplicates every row. Refuse until recover_compaction runs.
        pending = glob.glob(
            os.path.join(task["dir"], "_compact_commit_*.json")
        )
        if pending:
            raise RuntimeError(
                f"partition {task['dir']} has undecided compaction "
                f"commits ({pending}); run recover_compaction first"
            )
        gone = [f for f in task["files"] if not os.path.exists(f)]
        if gone:
            raise RuntimeError(
                f"compaction {txid}: planned input files no longer exist "
                f"(compacted concurrently?): {gone[:3]}"
            )
        df = spark.read.option("mergeSchema", "true").parquet(*task["files"])
        sort_cols = [k for k in sort_keys if k in df.columns]

        staging = _staging_path(task["dir"], txid)
        # single-target merges (the common small-fragment case) skip the
        # exchange: coalesce folds the multi-file scan straight into the
        # one sort+write task instead of materializing a full-partition
        # shuffle first (r12, guide §2.1 — same output, one stage);
        # multi-target merges keep repartition for balanced output files
        if task["target_files"] == 1:
            out = df.coalesce(1)
        else:
            out = df.repartition(task["target_files"])
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        out.write.mode("overwrite").option("compression", "zstd").parquet(
            staging
        )
        if not os.path.exists(os.path.join(staging, "_SUCCESS")):
            raise RuntimeError(
                f"compaction staging write incomplete: {staging}"
            )
        staged = sorted(
            f for f in os.listdir(staging) if f.endswith(".parquet")
        )
        # the commit record must never be durable BEFORE the data it
        # promises to roll forward: fsync every staged file + the staging
        # dir entry first (Spark's local-FS writer does not fsync)
        for f in staged:
            _fsync_path(os.path.join(staging, f))
        _fsync_path(staging)
        moves = [
            (
                os.path.join(staging, f),
                os.path.join(task["dir"], f"compacted_{txid}_{i:05d}.parquet"),
            )
            for i, f in enumerate(staged)
        ]
        _write_commit(
            task["dir"],
            txid,
            {"staging": staging, "moves": moves, "old_files": task["files"]},
        )
    except BaseException:
        if os.path.exists(_commit_path(task["dir"], txid)):
            # decided but incomplete: keep staging AND the lock — the
            # recovery replay rolls forward and releases the lock; a
            # released lock here would let a second compaction publish
            # a second record over the same old_files
            raise
        # pre-commit failure: originals are untouched; drop our staging
        # eagerly and free the partition for the next attempt
        with contextlib.suppress(OSError):
            shutil.rmtree(_staging_path(task["dir"], txid), ignore_errors=True)
        _release_lock(task["dir"], txid)
        raise

    # post-commit steps mirror the recovery replay's guards: a concurrent
    # sweep may legitimately finish any of these steps first (the commit
    # record is the source of truth, whoever executes it)
    for src, dst in moves:
        if os.path.exists(src) and not os.path.exists(dst):
            with contextlib.suppress(FileNotFoundError):
                shutil.move(src, dst)
    missing = [dst for _src, dst in moves if not os.path.exists(dst)]
    if missing:
        raise RuntimeError(
            f"compaction {txid}: staged replacements missing after swap "
            f"({missing[:3]}...); old files preserved"
        )
    for f in task["files"]:
        with contextlib.suppress(FileNotFoundError):
            os.remove(f)
    shutil.rmtree(staging, ignore_errors=True)
    with contextlib.suppress(FileNotFoundError):
        os.remove(_commit_path(task["dir"], txid))
    _release_lock(task["dir"], txid)
    return len(moves)
