"""deltalite checkpoints — the protocol's log compaction.

Without checkpoints every snapshot read replays every JSON commit since
version 0: O(commits) driver work per read, the real cost of a
long-lived table taking thousands of streaming commits.  These tests
pin the three contracts that make checkpoints safe:

* equivalence — the state replayed checkpoint-first is IDENTICAL to a
  full JSON replay (adds, schema, partition values, stats, txns);
* boundedness — a snapshot after a checkpoint reads only the JSON
  commits past it (counted, not assumed);
* expiry semantics — after ``expire_log`` the table reads exactly as
  before at and after the horizon, and raises a CLEAR error for time
  travel / CDF ranges before it (never a silently wrong answer).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from pyspark_anomaly_detection_spark.io import deltalite
from pyspark_anomaly_detection_spark.io.deltalite import (
    annotate_stats,
    create_checkpoint,
    expire_log,
    last_txn_version,
    read_delta,
    read_delta_changes,
    read_delta_pruned,
    vacuum_delta,
    write_delta,
    write_delta_txn,
    _list_checkpoints,
    _list_versions,
    _snapshot_state,
)


def _df(spark, lo, hi):
    # coalesce(1): one parquet file per commit, so file counts in the
    # assertions are deterministic regardless of local parallelism
    return (
        spark.range(lo, hi)
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
        .coalesce(1)
    )


def _build(spark, t, n_commits=12, width=5):
    for i in range(n_commits):
        write_delta(
            _df(spark, i * width, (i + 1) * width),
            t,
            mode="append" if i else "append",
        )
    return n_commits


def test_auto_checkpoint_and_equivalent_state(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t, n_commits=12)
    # write_delta auto-checkpoints at the protocol's default cadence
    assert _list_checkpoints(t) == [deltalite.CHECKPOINT_INTERVAL]
    pointer = os.path.join(t, "_delta_log", "_last_checkpoint")
    meta = json.loads(open(pointer).read())
    assert meta["version"] == deltalite.CHECKPOINT_INTERVAL

    # state replayed checkpoint-first == full JSON replay (checkpoint
    # removed from a copy of the table)
    plain = str(tmp_path / "plain")
    shutil.copytree(t, plain)
    os.remove(
        deltalite._checkpoint_path(plain, deltalite.CHECKPOINT_INTERVAL)
    )
    a = _snapshot_state(t, 11)
    b = _snapshot_state(plain, 11)
    assert a.adds == b.adds
    assert a.schema_json == b.schema_json
    assert a.part_cols == b.part_cols
    assert a.txns == b.txns

    # the data itself reads identically
    assert read_delta(spark, t).count() == 12 * 5
    got = sorted(r.id for r in read_delta(spark, t, version=3).collect())
    assert got == list(range(20))


def test_replay_reads_only_commits_past_checkpoint(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    _build(spark, t, n_commits=13)
    read_versions: list[int] = []
    orig = deltalite._read_commit

    def counting(table_path, version):
        read_versions.append(version)
        return orig(table_path, version)

    monkeypatch.setattr(deltalite, "_read_commit", counting)
    snap = _snapshot_state(t)
    assert snap.version == 12
    # only the two JSON commits after the version-10 checkpoint
    assert sorted(read_versions) == [11, 12]
    assert len(snap.adds) == 13  # one file per single-partition commit


def test_expire_log_reads_and_horizon_errors(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t, n_commits=12)
    before = sorted(r.id for r in read_delta(spark, t).collect())
    out = expire_log(t)
    assert out["horizon"] == 10
    assert out["json_deleted"] == 10  # commits 0..9 subsumed
    assert _list_versions(t) == [10, 11]

    # at/after the horizon: identical reads
    after = sorted(r.id for r in read_delta(spark, t).collect())
    assert after == before
    assert read_delta(spark, t, version=10).count() == 11 * 5
    # before the horizon: a clear error, never a wrong answer
    with pytest.raises(ValueError, match="not in log|expired"):
        read_delta(spark, t, version=5)
    with pytest.raises(ValueError, match="not in log|expired"):
        read_delta_changes(spark, t, from_version=2)
    # CDF over the surviving range still works
    feed = read_delta_changes(spark, t, from_version=10)
    assert feed.filter(F.col("_change_type") == "insert").count() == 5
    assert set(
        r._commit_version for r in feed.select("_commit_version").collect()
    ) == {11}


def test_txn_watermark_survives_checkpoint_and_expiry(spark, tmp_path):
    t = str(tmp_path / "t")
    for b in range(11):  # versions 0..10 → auto-checkpoint at 10
        write_delta_txn(_df(spark, b, b + 1), t, app_id="sink", txn_version=b)
    assert _list_checkpoints(t) == [10]
    expire_log(t)
    # the exactly-once watermark lives in the checkpoint's txn rows
    assert last_txn_version(t, "sink") == 10
    assert last_txn_version(t, "other") == -1
    # a replayed batch is still recognised as committed → skipped
    assert write_delta_txn(_df(spark, 0, 1), t, "sink", 7) is None
    # and a new batch commits normally
    assert write_delta_txn(_df(spark, 11, 12), t, "sink", 11) == 11


def test_checkpoint_preserves_partitions_and_stats(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 40).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("bucket"),
    ).coalesce(1)
    write_delta(df, t, partition_by=["bucket"])
    for i in range(10):  # versions 1..10, checkpoint at 10
        extra = spark.range(40 + i, 41 + i).select(
            F.col("id"), (F.col("id") % 4).cast("string").alias("bucket")
        ).coalesce(1)
        write_delta(extra, t, mode="append")
    annotate_stats(t, ["id"])  # version 11
    create_checkpoint(t, 11)
    expire_log(t)
    assert _list_versions(t) == [11]

    # partitionValues reconstructed from the checkpoint's map column
    pruned = read_delta(spark, t, partition_filter={"bucket": "2"})
    assert sorted(r.id for r in pruned.collect()) == [
        i for i in range(50) if i % 4 == 2
    ]
    # data skipping still sees the stats carried through the checkpoint
    frame, meta = read_delta_pruned(spark, t, "id", 0, 3)
    assert meta["files_read"] < meta["files_total"]
    assert sorted(r.id for r in frame.collect()) == [0, 1, 2, 3]


def test_tombstones_round_trip_and_vacuum_after_expiry(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta(_df(spark, 0, 10), t)
    for i in range(9):
        write_delta(_df(spark, 10 + i, 11 + i), t, mode="append")
    write_delta(_df(spark, 100, 105), t, mode="overwrite")  # version 10 + ckpt
    assert _list_checkpoints(t) == [10]
    snap = _snapshot_state(t, 10)
    assert len(snap.tombstones) == 10  # all pre-overwrite files
    expire_log(t)
    # tombstoned data files still on disk → vacuum reclaims them
    out = vacuum_delta(t, retain_versions=1)
    assert out["files_deleted"] == 10
    assert sorted(r.id for r in read_delta(spark, t).collect()) == [
        100, 101, 102, 103, 104,
    ]


def test_concurrent_checkpointers_of_one_version(spark, tmp_path, monkeypatch):
    """Two checkpointers of the same version interleave at the worst
    point: the second runs to completion just before the first renames
    its temp file.  With a shared temp name the first rename would find
    its file gone (or publish the other's); each writer now has its own
    temp, so both return and the checkpoint reads back."""
    t = str(tmp_path / "t")
    write_delta(spark.range(0, 5).toDF("id"), t)
    write_delta(spark.range(5, 9).toDF("id"), t)
    real_replace = os.replace
    raced = []

    def replace(src, dst):
        if not raced:
            raced.append(None)  # the nested call renames straight through
            raced[0] = create_checkpoint(t, 1)
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    assert create_checkpoint(t, 1) == 1
    monkeypatch.setattr(os, "replace", real_replace)
    assert raced == [1]
    assert _list_checkpoints(t) == [1]
    log = os.path.join(t, "_delta_log")
    assert not [n for n in os.listdir(log) if n.endswith(".tmp")]
    with open(os.path.join(log, "_last_checkpoint")) as f:
        assert json.load(f)["version"] == 1
    for v in _list_versions(t):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    assert sorted(r.id for r in read_delta(spark, t).collect()) == list(
        range(9)
    )
