"""Maintenance plane tests: compaction preserves data + sort order;
retention sweeps exactly the expired dateint partitions."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from lakerunner_spark.maintenance.compaction import compact_segments, plan_compaction
from lakerunner_spark.maintenance.retention import expired_partitions, sweep_retention
from lakerunner_spark.testdata import events_stream


def test_compaction_merges_small_files(spark, sf_dir, tmp_path):
    e = (
        events_stream(spark, sf_dir)
        .withColumnRenamed("event_type", "metric_name")
        .withColumn("chq_tid", F.col("user_id").cast("long"))
    )
    part = str(tmp_path / "dateint=20240101")
    # fragment: many tiny files
    e.repartition(16).write.mode("overwrite").parquet(part)
    for f in os.listdir(part):
        if not f.endswith(".parquet"):
            os.remove(os.path.join(part, f))
    n_before = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    total_before = e.count()

    task = plan_compaction(part)
    assert task and task["target_files"] == 1 and len(task["files"]) == n_before

    n_out = compact_segments(spark, task, "metrics")
    assert n_out == 1
    files_after = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert len(files_after) == 1

    back = spark.read.parquet(part)
    assert back.count() == total_before
    # re-sorted on the family key
    one = (
        spark.read.parquet(os.path.join(part, files_after[0]))
        .select("metric_name", "chq_tid", "chq_timestamp")
        .collect()
    )
    keys = [(r.metric_name, r.chq_tid, r.chq_timestamp) for r in one]
    assert keys == sorted(keys)

    # healthy partition is left alone
    assert plan_compaction(part) is None


def test_plan_table_compaction_walks_partitions(spark, sf_dir, tmp_path):
    from lakerunner_spark.maintenance.compaction import plan_table_compaction

    e = events_stream(spark, sf_dir).limit(2000)
    table = tmp_path / "tbl"
    # two partitions: one fragmented, one healthy single-file
    e.repartition(8).write.parquet(str(table / "dateint=20240101"))
    e.coalesce(1).write.parquet(str(table / "dateint=20240102"))
    tasks = plan_table_compaction(str(table))
    assert len(tasks) == 1 and "dateint=20240101" in tasks[0]["dir"]


def test_retention_sweep(tmp_path):
    base = tmp_path / "logs-cooked" / "org_id=a"
    for d in ("20240101", "20240301", "20240501"):
        (base / f"dateint={d}").mkdir(parents=True)
        (base / f"dateint={d}" / "seg.parquet").write_bytes(b"x")

    now_ms = 1_714_521_600_000  # 2024-05-01 UTC
    doomed = expired_partitions(str(tmp_path), retention_days=90, now_ms=now_ms)
    assert [os.path.basename(p) for p in doomed] == ["dateint=20240101"]

    assert (base / "dateint=20240101").exists()  # listing touches nothing

    removed = sweep_retention(str(tmp_path), retention_days=90, now_ms=now_ms)
    assert removed == doomed
    assert not (base / "dateint=20240101").exists()
    assert (base / "dateint=20240301").exists()
    assert (base / "dateint=20240501").exists()


def _fragmented_partition(spark, sf_dir, tmp_path, name):
    e = (
        events_stream(spark, sf_dir)
        .limit(3000)
        .withColumnRenamed("event_type", "metric_name")
        .withColumn("chq_tid", F.col("user_id").cast("long"))
    )
    part = str(tmp_path / name / "dateint=20240101")
    e.repartition(8).write.mode("overwrite").parquet(part)
    for f in os.listdir(part):
        if not f.endswith(".parquet"):
            os.remove(os.path.join(part, f))
    return part, spark.read.parquet(part).count()


def test_compaction_crash_before_commit_rolls_back(spark, sf_dir, tmp_path):
    """Kill after the staging write but BEFORE the commit record: the
    original segments are untouched; recovery garbage-collects staging
    and the partition reads exactly as before."""
    import shutil as _sh

    from lakerunner_spark.maintenance.compaction import recover_compaction

    part, total = _fragmented_partition(spark, sf_dir, tmp_path, "crash1")
    task = plan_compaction(part)
    files_before = sorted(os.listdir(part))

    # simulate: staging dir fully written, then crash (no commit record)
    staging = os.path.join(
        os.path.dirname(part), f"_compact_deadbeef_{os.path.basename(part)}"
    )
    spark.read.parquet(part).coalesce(1).write.mode("overwrite").parquet(staging)

    assert recover_compaction(part, stale_after_s=0) == "rolled_back"
    assert not os.path.exists(staging)
    assert sorted(os.listdir(part)) == files_before
    assert spark.read.parquet(part).count() == total
    _sh.rmtree(os.path.dirname(part), ignore_errors=True)


def test_compaction_crash_mid_swap_rolls_forward(spark, sf_dir, tmp_path):
    """Kill AFTER the commit record with the swap half done (one new
    file moved in, old files still present): recovery replays the
    record — partition ends with exactly the compacted files and the
    original row count."""
    import glob
    import json
    import shutil as _sh

    from lakerunner_spark.maintenance.compaction import (
        _write_commit,
        recover_compaction,
    )

    part, total = _fragmented_partition(spark, sf_dir, tmp_path, "crash2")
    task = plan_compaction(part)

    txid = "cafef00d"
    staging = os.path.join(
        os.path.dirname(part), f"_compact_{txid}_{os.path.basename(part)}"
    )
    spark.read.option("mergeSchema", "true").parquet(*task["files"]).repartition(
        2
    ).write.mode("overwrite").parquet(staging)
    staged = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    assert len(staged) == 2
    moves = [
        (
            os.path.join(staging, f),
            os.path.join(part, f"compacted_{txid}_{i:05d}.parquet"),
        )
        for i, f in enumerate(staged)
    ]
    _write_commit(
        part, txid, {"staging": staging, "moves": moves, "old_files": task["files"]}
    )
    # crash mid-swap: only the first move happened, no old file deleted
    _sh.move(*moves[0])

    assert recover_compaction(part) == "rolled_forward"
    assert not os.path.exists(staging)
    assert not glob.glob(os.path.join(part, "_compact_commit_*.json"))
    files = sorted(f for f in os.listdir(part) if f.endswith(".parquet"))
    assert files == [f"compacted_{txid}_{i:05d}.parquet" for i in range(2)]
    assert spark.read.parquet(part).count() == total
    _sh.rmtree(os.path.dirname(part), ignore_errors=True)


def test_recover_noop_on_healthy_partition(spark, sf_dir, tmp_path):
    part, total = _fragmented_partition(spark, sf_dir, tmp_path, "healthy")
    from lakerunner_spark.maintenance.compaction import recover_compaction

    assert recover_compaction(part) is None
    assert spark.read.parquet(part).count() == total


def test_plan_table_compaction_recovers_and_skips_staging(spark, sf_dir, tmp_path):
    """The table sweep repairs crashed transactions before planning and
    never plans a 'compaction' over a staging directory."""
    from lakerunner_spark.maintenance.compaction import plan_table_compaction

    part, total = _fragmented_partition(spark, sf_dir, tmp_path, "sweep")
    table = os.path.dirname(part)
    # stale staging dir from a crashed pre-commit txn, with parquet inside
    staging = os.path.join(table, f"_compact_feedf00d_{os.path.basename(part)}")
    spark.read.parquet(part).limit(100).repartition(4).write.parquet(staging)

    # a FRESH staging dir may belong to a live compaction: the default
    # staleness gate must leave it alone (and still never plan over it)
    tasks = plan_table_compaction(table)
    assert [t["dir"] for t in tasks] == [part]
    assert os.path.exists(staging)

    # declared stale -> garbage-collected
    tasks = plan_table_compaction(table, stale_after_s=0)
    assert [t["dir"] for t in tasks] == [part]  # staging never planned
    assert not os.path.exists(staging)          # rolled back by recovery
    assert spark.read.parquet(part).count() == total


def test_recover_raises_on_lost_staged_data(spark, sf_dir, tmp_path):
    """A commit record whose staged replacements are gone must raise
    and PRESERVE the old files — never silently delete the only copy."""
    import pytest as _pytest

    from lakerunner_spark.maintenance.compaction import (
        _write_commit,
        recover_compaction,
    )

    part, total = _fragmented_partition(spark, sf_dir, tmp_path, "lost")
    task = plan_compaction(part)
    staging = os.path.join(os.path.dirname(part), f"_compact_dead_{os.path.basename(part)}")
    # record promises moves whose sources never existed (staging lost)
    moves = [(os.path.join(staging, "gone.parquet"),
              os.path.join(part, "compacted_dead_00000.parquet"))]
    _write_commit(part, "dead", {"staging": staging, "moves": moves,
                                 "old_files": task["files"]})
    with _pytest.raises(RuntimeError, match="staged replacements missing"):
        recover_compaction(part)
    # old files untouched, record kept for repair
    assert all(os.path.exists(f) for f in task["files"])
    assert spark.read.parquet(part).count() == total


def test_second_compaction_of_same_task_is_fenced(spark, sf_dir, tmp_path):
    """Replaying a stale task after the partition was already compacted
    must refuse — without the input-existence fence both transactions
    commit and every row is silently duplicated."""
    import pytest as _pytest

    part, total = _fragmented_partition(spark, sf_dir, tmp_path, "fence")
    task = plan_compaction(part)
    assert compact_segments(spark, task, "metrics") == 1
    with _pytest.raises(RuntimeError, match="no longer exist"):
        compact_segments(spark, task, "metrics")
    assert spark.read.parquet(part).count() == total
    files = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert len(files) == 1  # no second output generation


def test_lock_blocks_concurrent_compaction(spark, sf_dir, tmp_path):
    """A held (fresh) lock blocks a second compaction; a stale lock is
    broken and the compaction proceeds."""
    import pytest as _pytest

    from lakerunner_spark.maintenance.compaction import (
        _acquire_lock,
        _lock_path,
    )

    part, total = _fragmented_partition(spark, sf_dir, tmp_path, "lock")
    task = plan_compaction(part)
    _acquire_lock(part, "aaaaaaaa", 3600)
    with _pytest.raises(RuntimeError, match="already in progress"):
        compact_segments(spark, task, "metrics", stale_after_s=3600)
    # nothing changed under the held lock
    assert spark.read.parquet(part).count() == total
    # stale-break path: age threshold 0 treats the idle holder as dead
    assert compact_segments(spark, task, "metrics", stale_after_s=0) == 1
    assert spark.read.parquet(part).count() == total
    assert not os.path.exists(_lock_path(part))  # released on success


def test_stale_lock_break_is_serialized(spark, sf_dir, tmp_path):
    """Breaking a stale lock goes through a break mutex: while one
    sweep is mid-break, a second sweep must NOT remove the lock (the
    check-then-remove race would let it delete the winner's FRESH lock
    and double-compact). A crashed breaker's old mutex is cleared."""
    from lakerunner_spark.maintenance.compaction import (
        _acquire_lock,
        _break_if_stale,
        _lock_path,
    )

    part, _ = _fragmented_partition(spark, sf_dir, tmp_path, "brk")
    _acquire_lock(part, "deadbeef", 3600)
    lock = _lock_path(part)

    # a fresh lock is never broken
    broken, holder = _break_if_stale(part, stale_after_s=3600)
    assert (broken, holder) == (False, "deadbeef") and os.path.exists(lock)

    # an in-flight break (fresh mutex) blocks other breakers even when
    # the lock itself is judged stale
    bpath = lock + ".break"
    open(bpath, "w").close()
    broken, _ = _break_if_stale(part, stale_after_s=0)
    assert not broken and os.path.exists(lock)
    # a crashed breaker's mutex (older than the mutex window) is cleared
    # and the stale lock then breaks
    old = time.time() - 3600
    os.utime(bpath, (old, old))
    broken, holder = _break_if_stale(part, stale_after_s=0)
    assert broken and holder == "deadbeef"
    assert not os.path.exists(lock) and not os.path.exists(bpath)


def test_rollback_never_touches_sibling_partition_staging(spark, sf_dir, tmp_path):
    """Partition basenames where one is an underscore-suffix of another
    (`type=a` vs `sub_type=a`): recovery of one must never delete the
    other's staging, even when declared stale."""
    from lakerunner_spark.maintenance.compaction import recover_compaction

    parent = tmp_path / "tree"
    e = events_stream(spark, sf_dir).limit(200)
    part_a = str(parent / "type=a")
    part_b = str(parent / "sub_type=a")
    e.coalesce(2).write.parquet(part_a)
    e.coalesce(2).write.parquet(part_b)
    staging_b = str(parent / "_compact_0123abcd_sub_type=a")
    e.limit(50).coalesce(1).write.parquet(staging_b)

    # A's recovery: the bare glob `_compact_*_type=a` WOULD match B's
    # staging; the strict name parse must not
    assert recover_compaction(part_a, stale_after_s=0) is None
    assert os.path.exists(staging_b)
    # B's own recovery legitimately garbage-collects it
    assert recover_compaction(part_b, stale_after_s=0) == "rolled_back"
    assert not os.path.exists(staging_b)


def test_damaged_partition_does_not_block_sweep(spark, sf_dir, tmp_path):
    """One partition with an unrecoverable commit record (staged data
    lost) must not stop the sweep from planning healthy partitions."""
    import pytest as _pytest

    from lakerunner_spark.maintenance.compaction import (
        _write_commit,
        plan_table_compaction,
    )

    part_ok, _ = _fragmented_partition(spark, sf_dir, tmp_path, "sweep2")
    table = str(tmp_path / "sweep2")
    part_bad = os.path.join(table, "dateint=20240102")
    e = events_stream(spark, sf_dir).limit(500)
    e.coalesce(2).write.parquet(part_bad)
    staging = os.path.join(table, "_compact_deadbea7_dateint=20240102")
    _write_commit(
        part_bad,
        "deadbea7",
        {
            "staging": staging,
            "moves": [(os.path.join(staging, "gone.parquet"),
                       os.path.join(part_bad, "compacted_deadbea7_00000.parquet"))],
            "old_files": [],
        },
    )
    damaged: list = []
    tasks = plan_table_compaction(table, damaged_out=damaged)
    assert [t["dir"] for t in tasks] == [part_ok]
    assert [d for d, _ in damaged] == [part_bad]
    with _pytest.raises(RuntimeError, match="manual compaction repair"):
        plan_table_compaction(table, strict=True)


def test_compact_refuses_undecided_commit(spark, sf_dir, tmp_path):
    """compact_segments must refuse a partition holding an undecided
    commit record instead of publishing a second record over the same
    old files (replaying both would duplicate every row)."""
    import pytest as _pytest

    from lakerunner_spark.maintenance.compaction import (
        _lock_path,
        _write_commit,
    )

    part, total = _fragmented_partition(spark, sf_dir, tmp_path, "undecided")
    task = plan_compaction(part)
    staging = os.path.join(
        os.path.dirname(part), f"_compact_beadfeed_{os.path.basename(part)}"
    )
    _write_commit(
        part,
        "beadfeed",
        {"staging": staging, "moves": [], "old_files": []},
    )
    with _pytest.raises(RuntimeError, match="undecided"):
        compact_segments(spark, task, "metrics")
    assert not os.path.exists(_lock_path(part))  # released on refusal
    assert spark.read.parquet(part).count() == total


def test_concurrent_compactions_one_wins_no_duplicates(spark, sf_dir, tmp_path):
    """Two threads race compact_segments on the SAME partition: exactly
    one must win, the loser must fail with the in-progress error (or
    the planned-inputs-gone error if it starts after the winner's
    swap), and the partition's rows are intact — never duplicated."""
    import threading

    part, total = _fragmented_partition(spark, sf_dir, tmp_path, "race")
    task = plan_compaction(part)
    results: list = [None, None]

    def run(i):
        try:
            results[i] = ("ok", compact_segments(spark, task, "metrics"))
        except Exception as e:  # noqa: BLE001
            results[i] = ("err", str(e))

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    outcomes = sorted(kind for kind, _ in results)
    assert outcomes == ["err", "ok"], results
    err = next(msg for kind, msg in results if kind == "err")
    assert "already in progress" in err or "no longer exist" in err, err
    assert spark.read.parquet(part).count() == total
    assert not os.path.exists(
        os.path.join(part, "_compact_lock.json")
    )  # winner released
