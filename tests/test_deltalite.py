"""deltalite protocol semantics: log replay, time travel, overwrite,
single-writer commit exclusivity, history, and fail-loud on unsupported
protocol features."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pyspark_anomaly_detection_spark.io.deltalite import (
    delta_history,
    read_delta,
    write_delta,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


def test_append_overwrite_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    assert write_delta(_df(spark, 0, 10), t) == 0
    assert write_delta(_df(spark, 10, 15), t, mode="append") == 1
    assert write_delta(_df(spark, 100, 102), t, mode="overwrite") == 2

    assert read_delta(spark, t).count() == 2  # latest = overwrite
    assert read_delta(spark, t, version=0).count() == 10
    assert read_delta(spark, t, version=1).count() == 15
    got = sorted(r.id for r in read_delta(spark, t, version=2).collect())
    assert got == [100, 101]
    # committed schema survives the read
    assert read_delta(spark, t).schema.fieldNames() == ["id", "v"]

    hist = delta_history(t)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert hist[2]["operation"] == "OVERWRITE"
    assert hist[2]["n_removes"] > 0 and hist[2]["n_adds"] > 0


def test_commit_exclusivity_never_clobbers(spark, tmp_path, monkeypatch):
    """Racing writers of the same version must never clobber the
    winner's commit — a writer whose version listing is PERMANENTLY
    stale (can't see the tip to rebase onto) exhausts its bounded
    retries and raises, leaving the winner's commit byte-identical."""
    from pyspark_anomaly_detection_spark.io import deltalite

    t = str(tmp_path / "t")
    write_delta(_df(spark, 0, 5), t)
    write_delta(_df(spark, 5, 8), t, mode="append")  # the winner's commit 1
    winner = open(deltalite._log_path(t, 1), "rb").read()
    monkeypatch.setattr(deltalite, "_list_versions", lambda p: [0])
    with pytest.raises(deltalite.DeltaliteConcurrentCommit):
        write_delta(_df(spark, 8, 12), t, mode="append")
    assert open(deltalite._log_path(t, 1), "rb").read() == winner


def test_crashed_writer_files_invisible(spark, tmp_path):
    """Data files without a committed add action must not be read —
    the log is the source of truth."""
    t = str(tmp_path / "t")
    write_delta(_df(spark, 0, 5), t)
    # orphan parquet dropped into the table dir (simulated crash)
    _df(spark, 90, 99).write.parquet(os.path.join(t, "orphan"))
    assert read_delta(spark, t).count() == 5


def test_unsupported_protocol_fails_loud(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta(_df(spark, 0, 3), t)
    log0 = os.path.join(t, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(line) for line in open(log0)]
    for a in actions:
        if "protocol" in a:
            a["protocol"]["minReaderVersion"] = 3
    with open(log0, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(NotImplementedError, match="reader version"):
        read_delta(spark, t)


def test_missing_table_and_bad_version(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_delta(spark, str(tmp_path / "nope"))
    t = str(tmp_path / "t")
    write_delta(_df(spark, 0, 3), t)
    with pytest.raises(ValueError, match="version 7 not in log"):
        read_delta(spark, t, version=7)


def test_streaming_sink_exactly_once_under_replay(spark, tmp_path):
    """foreachBatch → transactional append with a txn action: replaying
    a committed batch must SKIP (no duplicate rows), and the accumulated
    table must equal the batch union."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        last_txn_version,
        start_incremental_delta_sink,
        write_delta_txn,
    )

    raw = str(tmp_path / "raw")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    for lo, hi in ((0, 10), (10, 25), (25, 30)):
        _df(spark, lo, hi).coalesce(1).write.mode("append").parquet(raw)
    stream = (
        spark.readStream.schema(spark.read.parquet(raw).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(raw)
    )
    q = start_incremental_delta_sink(stream, table, ckpt, app_id="app1")
    q.awaitTermination()

    got = sorted(r.id for r in read_delta(spark, table).collect())
    assert got == list(range(30))
    wm = last_txn_version(table, "app1")
    assert wm >= 2  # three batches committed

    # at-least-once replay of an already-committed batch: skipped
    before_versions = [h["version"] for h in delta_history(table)]
    assert (
        write_delta_txn(_df(spark, 0, 10), table, "app1", 0) is None
    )
    assert [h["version"] for h in delta_history(table)] == before_versions
    assert sorted(r.id for r in read_delta(spark, table).collect()) == got
    # a NEW txn version still commits
    assert write_delta_txn(_df(spark, 30, 32), table, "app1", wm + 1) is not None
    assert read_delta(spark, table).count() == 32


def test_optimize_compacts_transactionally_and_preserves_history(
    spark, tmp_path
):
    from pyspark_anomaly_detection_spark.io.deltalite import optimize_delta

    t = str(tmp_path / "t")
    for lo in range(0, 50, 10):  # five appends, >= 5 files
        write_delta(_df(spark, lo, lo + 10).repartition(2), t, mode="append")
    pre_rows = sorted(r.id for r in read_delta(spark, t).collect())
    pre_version = delta_history(t)[-1]["version"]

    stats = optimize_delta(spark, t)
    assert stats["files_after"] == 1  # tiny table → one planned file
    assert stats["files_before"] >= 5
    # same rows after, atomically at the log
    assert sorted(r.id for r in read_delta(spark, t).collect()) == pre_rows
    hist = delta_history(t)
    assert hist[-1]["operation"] == "OPTIMIZE"
    # time travel to pre-optimize still works (old files untouched)
    assert (
        sorted(r.id for r in read_delta(spark, t, version=pre_version).collect())
        == pre_rows
    )


def test_stats_backfill_and_data_skipping(spark, tmp_path):
    """COMPUTE STATS backfill + log-level file skipping: five sorted
    range commits, a narrow predicate must open exactly one file and
    still return the exact rows; files without stats are never skipped."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        annotate_stats,
        read_delta_pruned,
    )

    t = str(tmp_path / "t")
    for lo in range(0, 50, 10):
        write_delta(
            _df(spark, lo, lo + 10).coalesce(1), t, mode="append"
        )

    # without stats: nothing skipped, but results still exact
    df0, meta0 = read_delta_pruned(spark, t, "id", 23, 26)
    assert meta0 == {"files_total": 5, "files_read": 5}
    assert sorted(r.id for r in df0.collect()) == [23, 24, 25, 26]

    v = annotate_stats(t, ["id"])
    assert v > 0
    assert annotate_stats(t, ["id"]) == -1  # idempotent: all covered

    df1, meta1 = read_delta_pruned(spark, t, "id", 23, 26)
    assert meta1 == {"files_total": 5, "files_read": 1}
    assert sorted(r.id for r in df1.collect()) == [23, 24, 25, 26]

    # disjoint predicate: zero files opened, empty frame, schema kept
    df2, meta2 = read_delta_pruned(spark, t, "id", 900, 950)
    assert meta2["files_read"] == 0
    assert df2.count() == 0 and df2.schema.fieldNames() == ["id", "v"]


def test_every_staged_add_carries_num_records(spark, tmp_path):
    """Appends, partitioned writes, copy-on-write rewrites and OPTIMIZE
    all commit Delta's ``stats.numRecords`` — each file's footer row
    count — on every add."""
    import pyarrow.parquet as pq

    from pyspark_anomaly_detection_spark.io.deltalite import (
        _snapshot_state,
        optimize_delta,
    )
    from pyspark_anomaly_detection_spark.io.deltalite_dml import update_delta

    t = str(tmp_path / "t")

    def check():
        adds = _snapshot_state(t).adds
        assert adds
        for rel, a in adds.items():
            rows = pq.read_metadata(os.path.join(t, rel)).num_rows
            assert json.loads(a["stats"])["numRecords"] == rows, rel

    write_delta(
        _df(spark, 0, 12).withColumn("side", (F.col("id") % 2).cast("string")),
        t,
        partition_by=["side"],
    )
    write_delta(
        _df(spark, 12, 14).withColumn("side", F.lit("0")), t, mode="append"
    )
    update_delta(spark, t, "id = 3", {"v": "0"})
    check()
    optimize_delta(spark, t)
    check()


def test_schema_evolution_add_column(spark, tmp_path):
    """mergeSchema contract: adding a trailing column requires
    merge_schema=True, updates the committed schema, and old files read
    the new column as NULL; type changes and drops always raise."""
    t = str(tmp_path / "t")
    write_delta(_df(spark, 0, 5), t)
    wider = _df(spark, 5, 8).withColumn("tag", F.lit("x"))

    with pytest.raises(ValueError, match="merge_schema=True"):
        write_delta(wider, t, mode="append")
    write_delta(wider, t, mode="append", merge_schema=True)

    out = read_delta(spark, t)
    assert out.schema.fieldNames() == ["id", "v", "tag"]
    rows = {r.id: r.tag for r in out.collect()}
    assert rows[0] is None and rows[7] == "x"
    assert out.count() == 8

    # dropped column: incompatible even with merge_schema
    with pytest.raises(ValueError, match="missing committed columns"):
        write_delta(
            _df(spark, 8, 9).drop("v"), t, mode="append", merge_schema=True
        )
    # type change: incompatible
    with pytest.raises(ValueError, match="changed types"):
        write_delta(
            _df(spark, 8, 9).withColumn("v", F.col("v").cast("string"))
            .withColumn("tag", F.lit("y")),
            t,
            mode="append",
            merge_schema=True,
        )


def test_partitioned_table_replace_where_and_pruning(spark, tmp_path):
    """Hive-style partitioned deltalite: partitionValues committed per
    add, partition columns reconstructed on read, replaceWhere scoped
    overwrite (out-of-scope rows raise; foreign partitions survive),
    and log-level partition pruning."""
    from pyspark_anomaly_detection_spark.io.deltalite import _replay_adds

    t = str(tmp_path / "t")
    df = spark.range(0, 30).select(
        "id",
        (F.col("id") % 3).cast("string").alias("bucket"),
        (F.col("id") * 10).alias("v"),
    )
    write_delta(df, t, partition_by=["bucket"])

    out = read_delta(spark, t)
    assert out.schema.fieldNames() == ["id", "bucket", "v"]
    assert out.count() == 30
    assert {r.bucket for r in out.select("bucket").distinct().collect()} == {
        "0", "1", "2",
    }

    # partition pruning at the log level: only bucket=1 files read
    adds, _, _ = _replay_adds(t)
    n_b1 = sum(
        1 for a in adds.values() if a["partitionValues"]["bucket"] == "1"
    )
    pruned = read_delta(spark, t, partition_filter={"bucket": "1"})
    assert sorted(r.id for r in pruned.collect()) == list(range(1, 30, 3))
    assert n_b1 < len(adds)

    # replaceWhere: out-of-scope rows in df must raise
    bad = spark.range(100, 104).select(
        "id", F.lit("2").alias("bucket"), (F.col("id") * 10).alias("v")
    ).union(
        spark.range(200, 201).select(
            "id", F.lit("0").alias("bucket"), (F.col("id") * 10).alias("v")
        )
    )
    with pytest.raises(ValueError, match="outside the replaced scope"):
        write_delta(bad, t, replace_where={"bucket": "2"})

    # scoped overwrite: bucket=2 replaced, buckets 0/1 untouched
    repl = spark.range(100, 104).select(
        "id", F.lit("2").alias("bucket"), (F.col("id") * 10).alias("v")
    )
    write_delta(repl, t, replace_where={"bucket": "2"})
    final = read_delta(spark, t)
    ids = sorted(r.id for r in final.collect())
    assert ids == sorted(
        [i for i in range(30) if i % 3 != 2] + [100, 101, 102, 103]
    )
    # replace_where on a non-partition column raises
    with pytest.raises(ValueError, match="non-partition columns"):
        write_delta(repl, t, replace_where={"v": "10"})
    # conflicting partition_by on an existing table raises
    with pytest.raises(ValueError, match="conflicts with the committed"):
        write_delta(repl, t, mode="append", partition_by=["v"])


def test_vacuum_reclaims_unreferenced_files(spark, tmp_path):
    """After an overwrite + optimize, vacuum removes every file not in
    the retained versions' active sets (including crashed-writer
    orphans); the latest read is intact, and time travel BEFORE the
    retention horizon now fails at read — Delta's VACUUM semantics."""
    import glob

    from pyspark_anomaly_detection_spark.io.deltalite import (
        optimize_delta,
        vacuum_delta,
    )

    t = str(tmp_path / "t")
    write_delta(_df(spark, 0, 10).repartition(2), t)
    write_delta(_df(spark, 10, 20).repartition(2), t, mode="append")
    optimize_delta(spark, t)
    _df(spark, 90, 95).write.parquet(os.path.join(t, "orphan"))  # crashed writer

    files_before = len(glob.glob(f"{t}/**/*.parquet", recursive=True))
    stats = vacuum_delta(t, retain_versions=1)
    assert stats["files_deleted"] > 0
    assert stats["files_kept"] == 1  # the optimized single file
    assert len(glob.glob(f"{t}/**/*.parquet", recursive=True)) == 1
    assert files_before == stats["files_deleted"] + stats["files_kept"]

    # latest snapshot intact; pre-horizon time travel now fails at read
    assert read_delta(spark, t).count() == 20
    import pyspark.errors

    with pytest.raises(Exception):
        read_delta(spark, t, version=0).count()


def test_change_feed_reconstructs_snapshots(spark, tmp_path):
    """CDF invariant: snapshot(v) == snapshot(from) + inserts − deletes
    over (from, v]; OPTIMIZE's dataChange:false rewrite emits NO feed
    rows (layout maintenance is not a data change)."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        optimize_delta,
        read_delta_changes,
    )

    t = str(tmp_path / "t")
    write_delta(_df(spark, 0, 10), t)
    write_delta(_df(spark, 10, 18), t, mode="append")
    write_delta(_df(spark, 50, 55), t, mode="overwrite")
    opt_v = optimize_delta(spark, t)["version"]

    feed = read_delta_changes(spark, t, from_version=0).collect()
    ins = {r.id for r in feed if r._change_type == "insert"}
    dels = {r.id for r in feed if r._change_type == "delete"}
    snap0 = {r.id for r in read_delta(spark, t, version=0).collect()}
    latest = {r.id for r in read_delta(spark, t).collect()}
    assert (snap0 | ins) - dels == latest
    # optimize contributed nothing to the feed
    assert all(r._commit_version < opt_v for r in feed)
    # per-commit attribution
    assert {r.id for r in feed if r._commit_version == 1} == set(range(10, 18))
    v2 = [r for r in feed if r._commit_version == 2]
    assert {r.id for r in v2 if r._change_type == "delete"} == set(range(18))
    assert {r.id for r in v2 if r._change_type == "insert"} == set(range(50, 55))
    # empty range → empty frame with the feed schema
    empty = read_delta_changes(spark, t, from_version=opt_v)
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_optimize_zorder_clusters_and_prunes(spark, tmp_path):
    """OPTIMIZE ZORDER BY: one transactional commit lays rows on the
    Morton curve of (a, b) AND lands per-file stats, so a range predicate
    on EITHER dimension skips files immediately; time travel still sees
    the pre-optimize layout, and rows are untouched."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        optimize_delta,
        read_delta,
        read_delta_pruned,
        write_delta,
    )

    grid = (
        spark.range(0, 64 * 64)
        .selectExpr("id % 64 AS a", "CAST(id / 64 AS LONG) AS b", "id AS v")
        .repartition(8)  # scattered layout: no natural clustering
    )
    t = str(tmp_path / "t")
    write_delta(grid, t)
    v0 = read_delta(spark, t, version=0).count()
    out = optimize_delta(
        spark, t, target_file_bytes=2_400, zorder_by=("a", "b")
    )
    assert out["files_after"] >= 12
    # rows survive bit-exactly
    assert read_delta(spark, t).count() == v0 == 64 * 64
    got = sorted(r.v for r in read_delta(spark, t).collect())
    assert got == list(range(64 * 64))
    # stats landed in the SAME commit: predicates on EITHER column prune
    for col in ("a", "b"):
        frame, meta = read_delta_pruned(spark, t, col, 0, 7)
        assert meta["files_total"] == out["files_after"]
        assert meta["files_read"] * 2 <= meta["files_total"], (
            col, meta,
        )
        assert frame.count() == 8 * 64
    # pre-optimize time travel intact
    assert read_delta(spark, t, version=0).count() == 64 * 64


def test_change_feed_from_minus_one_streams_full_history(spark, tmp_path):
    """ADVICE r9 (low): the batch CDF must accept from_version=-1 (full
    history, commit 0's inserts included) — matching the streaming CDF's
    initialOffset=-1 contract instead of raising."""
    from pyspark.sql import functions as F

    from pyspark_anomaly_detection_spark.io.deltalite import (
        read_delta_changes,
        write_delta,
    )

    t = str(tmp_path / "t")
    write_delta(spark.range(0, 5).coalesce(1), t)
    write_delta(spark.range(5, 8).coalesce(1), t, mode="append")
    feed = read_delta_changes(spark, t, from_version=-1)
    by_commit = {
        (r._commit_version, r._change_type): r.n
        for r in feed.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert by_commit == {(0, "insert"): 5, (1, "insert"): 3}


# ------------- round 10: optimistic concurrency with bounded retry


def _blind_append_actions(t, rel):
    """A minimal committed-elsewhere data file (content irrelevant)."""
    return [
        {"add": {"path": rel, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"commitInfo": {"operation": "WRITE", "engineInfo": "test"}},
    ]


def test_commit_retry_rebases_blind_append(spark, tmp_path):
    """The loser of the O_EXCL race with a disjoint append must rebase
    onto the next version instead of raising (verdict r9 item 4)."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        _commit_with_retry,
        write_delta,
    )

    t = str(tmp_path / "t")
    write_delta(spark.range(0, 5).coalesce(1), t)           # v0
    write_delta(spark.range(5, 8).coalesce(1), t, mode="append")  # v1
    # stale writer thinks the tip is v0 and claims v1 — taken
    got = _commit_with_retry(t, 1, _blind_append_actions(t, "x.parquet"))
    assert got == 2


def test_commit_retry_conflicts_raise(spark, tmp_path):
    from pyspark_anomaly_detection_spark.io.deltalite import (
        DeltaliteConcurrentCommit,
        _commit_with_retry,
        _snapshot_state,
        write_delta,
    )

    t = str(tmp_path / "t")
    write_delta(spark.range(0, 5).coalesce(1), t)  # v0
    active = sorted(_snapshot_state(t).adds)
    write_delta(spark.range(5, 8).coalesce(1), t, mode="append")  # v1
    # 1. overlapping remove set (two writers deleting the same file)
    rm = [{"remove": {"path": active[0], "dataChange": True}},
          {"commitInfo": {"operation": "DELETE"}}]
    write_delta(spark.range(8, 9).coalesce(1), t, mode="append")  # v2
    with pytest.raises(DeltaliteConcurrentCommit):
        # stale at v1->claims v2; v2 is an interleaved data change and
        # this commit carries removes -> non-append conflict
        _commit_with_retry(t, 2, rm)
    # 2. an interleaved metaData change conflicts even with a blind
    # append: commit the metaData at the tip, then race a stale append
    meta = [{"metaData": {"id": "m", "format": {"provider": "parquet",
                                                 "options": {}},
                          "schemaString": "{}", "partitionColumns": [],
                          "configuration": {}, "createdTime": 0}},
            {"commitInfo": {"operation": "SCHEMA"}}]
    tip = _commit_with_retry(t, 3, meta)
    with pytest.raises(DeltaliteConcurrentCommit):
        _commit_with_retry(
            t, tip, _blind_append_actions(t, "y.parquet")
        )
    # 3. bounded: the retry gives up after MAX_COMMIT_RETRIES losses
    from pyspark_anomaly_detection_spark.io import deltalite as dl

    class _AlwaysLosing(dict):
        pass

    # simulate perpetual losing by racing against ourselves: claim the
    # next N versions up front, then commit with max_retries smaller
    for v in range(tip + 1, tip + 4):
        _commit_with_retry(t, v, _blind_append_actions(t, f"z{v}.parquet"))
    with pytest.raises(DeltaliteConcurrentCommit, match="lost the commit"):
        _commit_with_retry(
            t, tip + 1, _blind_append_actions(t, "w.parquet"),
            max_retries=0,
        )


def test_two_threaded_writers_all_appends_land(spark, tmp_path):
    """Verdict r9 item 4's done-bar: two writers appending
    concurrently — every append lands, versions strictly ordered with
    no gaps, all rows present."""
    import threading

    from pyspark_anomaly_detection_spark.io.deltalite import (
        delta_history,
        read_delta,
        write_delta,
    )

    t = str(tmp_path / "t")
    write_delta(spark.range(0, 0).select(F.col("id")).coalesce(1), t)  # v0
    errs = []
    barrier = threading.Barrier(2)

    def appender(lo):
        try:
            barrier.wait()
            for i in range(4):
                write_delta(
                    spark.range(lo + i * 10, lo + i * 10 + 10).coalesce(1),
                    t,
                    mode="append",
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=appender, args=(lo,)) for lo in (0, 1000)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    hist = delta_history(t)
    assert [h["version"] for h in hist] == list(range(9))  # v0 + 8 appends
    ids = sorted(r.id for r in read_delta(spark, t).collect())
    want = sorted(
        [i for b in (0, 1000) for j in range(4) for i in range(b + j * 10, b + j * 10 + 10)]
    )
    assert ids == want


def test_append_only_table_property(spark, tmp_path):
    """delta.appendOnly enforcement (round 13): once set via
    set_table_properties, every data-removing commit refuses — DELETE,
    UPDATE, overwrite, MERGE rewrites — while appends and OPTIMIZE
    (dataChange=false removes) stay legal; UNSET re-enables removal."""
    import pytest

    from pyspark_anomaly_detection_spark.io.deltalite import (
        optimize_delta,
        read_delta,
        set_table_properties,
        write_delta,
    )
    from pyspark_anomaly_detection_spark.io.deltalite_dml import (
        delete_delta,
        update_delta,
    )
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    for i in range(2):
        write_delta(
            spark.range(i * 5, (i + 1) * 5)
            .select(F.col("id"), (F.col("id") * 2).alias("v"))
            .coalesce(1),
            t,
            mode="append",
        )
    set_table_properties(t, {"delta.appendOnly": "true"})
    with pytest.raises(ValueError, match="appendOnly"):
        delete_delta(spark, t, "id = 1")
    with pytest.raises(ValueError, match="appendOnly"):
        update_delta(spark, t, "id = 1", {"v": "v + 1"})
    with pytest.raises(ValueError, match="appendOnly"):
        write_delta(spark.range(1).select(
            F.col("id"), F.col("id").alias("v")), t, mode="overwrite")
    # appends and OPTIMIZE stay legal
    write_delta(
        spark.range(10, 12).select(F.col("id"), (F.col("id") * 2).alias("v")),
        t,
        mode="append",
    )
    optimize_delta(spark, t)
    assert {r.id for r in read_delta(spark, t).collect()} == set(range(12))
    # UNSET re-enables removal
    set_table_properties(t, unset=["delta.appendOnly"])
    delete_delta(spark, t, "id = 0")
    assert {r.id for r in read_delta(spark, t).collect()} == set(range(1, 12))


def test_optimize_partitioned_table_preserves_partition_values(
    spark, tmp_path
):
    """Round 14: OPTIMIZE on a partitioned table compacts PER PARTITION
    GROUP and re-stamps each group's partitionValues — the old flat
    rewrite committed empty partitionValues, silently NULLing the
    partition columns on every subsequent read."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        _snapshot_state,
        optimize_delta,
        read_delta,
        write_delta,
    )

    t = str(tmp_path / "t")
    for lo in (0, 4, 8):
        write_delta(
            spark.range(lo, lo + 4).select(
                F.col("id"),
                (F.col("id") % 2).cast("string").alias("side"),
            ),
            t,
            mode="append",
            partition_by=["side"] if lo == 0 else None,
        )
    out = optimize_delta(spark, t)
    assert out["files_after"] == 2  # one compacted file per partition
    snap = _snapshot_state(t)
    assert all(
        (a.get("partitionValues") or {}).get("side") in ("0", "1")
        for a in snap.adds.values()
    )
    rows = {r.id: r.side for r in read_delta(spark, t).collect()}
    assert sorted(rows) == list(range(12))
    assert all(rows[i] == str(i % 2) for i in rows)


def test_optimize_zorder_partitioned_clusters_within_groups(
    spark, tmp_path
):
    """ZORDER on a partitioned table clusters WITHIN each partition
    group (real OPTIMIZE's scope): stats land per file, partitionValues
    survive, and the pruned read still subtracts nothing."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        _snapshot_state,
        optimize_delta,
        read_delta,
        read_delta_pruned,
        write_delta,
    )

    t = str(tmp_path / "t")
    write_delta(
        spark.range(0, 400).select(
            F.col("id"),
            (F.col("id") % 20).alias("x"),
            ((F.col("id") * 7) % 20).alias("y"),
            (F.col("id") % 2).cast("string").alias("side"),
        ),
        t,
        partition_by=["side"],
    )
    out = optimize_delta(
        spark, t, target_file_bytes=2000, zorder_by=("x", "y")
    )
    assert out["files_after"] >= 2
    snap = _snapshot_state(t)
    for a in snap.adds.values():
        assert a["partitionValues"].get("side") in ("0", "1")
        assert "stats" in a
    rows = {r.id: r.side for r in read_delta(spark, t).collect()}
    assert sorted(rows) == list(range(400))
    assert all(rows[i] == str(i % 2) for i in rows)
    df, meta = read_delta_pruned(spark, t, "x", 0, 2)
    assert meta["files_read"] < meta["files_total"]  # skipping engages
    assert df.count() == 60  # x in {0,1,2} → 3 * 20 ids
    # partition column cannot be a zorder dimension
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partition"):
        optimize_delta(spark, t, zorder_by=("side", "x"))


def test_optimize_zorder_drops_a_dv_emptied_partition_group(
    spark, tmp_path
):
    """ZORDER BY over a partition group whose every live row a deletion
    vector removed writes nothing for it: the group's files are removed
    and the other groups are clustered as usual."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        _snapshot_state,
        optimize_delta,
        read_delta,
        write_delta,
    )
    from pyspark_anomaly_detection_spark.io.deltalite_dv import delete_delta_dv

    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, i * 3, "5" if i == 9 else str(i % 3)) for i in range(10)],
            "id long, v long, side string",
        ),
        t,
        partition_by=["side"],
    )
    delete_delta_dv(spark, t, "id = 9")  # the only row of side=5
    optimize_delta(spark, t, zorder_by=("id", "v"))
    sides = {a["partitionValues"]["side"] for a in _snapshot_state(t).adds.values()}
    assert sides == {"0", "1", "2"}
    assert sorted(r.id for r in read_delta(spark, t).collect()) == list(range(9))


def test_pruned_read_reinjects_partition_columns(spark, tmp_path):
    """Data skipping on a PARTITIONED table returns the real partition
    values: the files hold no partition column, so the pruned read must
    reinject each file's ``partitionValues`` exactly like ``read_delta``
    (it used to read them from the files and return NULL on every row)."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        annotate_stats,
        read_delta_pruned,
    )

    t = str(tmp_path / "t")
    write_delta(
        spark.range(0, 40).select(
            F.col("id"), (F.col("id") % 3).cast("string").alias("p")
        ),
        t,
        partition_by=["p"],
    )
    annotate_stats(t, ["id"])
    df, meta = read_delta_pruned(spark, t, "id", 5, 9)
    assert meta["files_read"] >= 1
    got = sorted((r.id, r.p) for r in df.collect())
    want = sorted(
        (r.id, r.p)
        for r in read_delta(spark, t)
        .filter((F.col("id") >= 5) & (F.col("id") <= 9))
        .collect()
    )
    assert got == want == [(i, str(i % 3)) for i in range(5, 10)]
    assert df.schema.fieldNames() == ["id", "p"]


def test_interrupted_commit_leaves_no_torn_version(tmp_path, monkeypatch):
    """A commit that fails after any of its action lines is written
    leaves no trace: version N stays absent, the replayed snapshot is
    unchanged, and the next commit still takes version N.  A torn
    ``<N>.json`` would be replayed as committed: an overwrite cut between
    its removes and its add reads as an empty table.  Driver-only:
    synthetic actions, no Spark job."""
    from pyspark_anomaly_detection_spark.io import deltalite as dl

    def state(t):
        snap = dl._snapshot_state(t)
        return (snap.version, sorted(snap.adds), sorted(snap.tombstones),
                snap.meta, snap.protocol)

    def add(path):
        return {"add": {"path": path, "partitionValues": {}, "size": 1,
                        "modificationTime": 0, "dataChange": True}}

    def overwrite():
        return [
            {"commitInfo": {"operation": "OVERWRITE"}},
            {"remove": {"path": "a.parquet", "dataChange": True}},
            {"remove": {"path": "b.parquet", "dataChange": True}},
            add("c.parquet"),
        ]

    class _FailingJson:
        """``json`` as deltalite sees it, except that the ``fail_at``-th
        ``dumps`` raises: lines ``0 .. fail_at-1`` are already written."""

        def __init__(self, fail_at):
            self.fail_at, self.calls = fail_at, 0

        def __getattr__(self, name):
            return getattr(json, name)

        def dumps(self, obj, **kw):
            if self.calls == self.fail_at:
                raise OSError("injected: commit write interrupted")
            self.calls += 1
            return json.dumps(obj, **kw)

    for boundary in range(len(overwrite())):
        t = str(tmp_path / f"t{boundary}")
        log = os.path.join(t, "_delta_log")
        os.makedirs(log)
        dl._commit_with_retry(t, 0, [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "m", "format": {"provider": "parquet",
                                                "options": {}},
                          "schemaString": "{}", "partitionColumns": [],
                          "configuration": {}, "createdTime": 0}},
            add("a.parquet"),
            add("b.parquet"),
            {"commitInfo": {"operation": "WRITE"}},
        ])
        before = state(t)
        with monkeypatch.context() as m:
            m.setattr(dl, "json", _FailingJson(boundary))
            with pytest.raises(OSError, match="injected"):
                dl._commit_with_retry(t, 1, overwrite())
        assert dl._list_versions(t) == [0], boundary
        assert os.listdir(log) == [os.path.basename(dl._log_path(t, 0))]
        assert state(t) == before, boundary
        assert dl._commit_with_retry(t, 1, overwrite()) == 1, boundary
        assert sorted(dl._snapshot_state(t).adds) == ["c.parquet"]


def test_partition_values_round_trip_escaped_and_null(spark, tmp_path):
    """Hive directory names escape special characters and spell NULL
    as ``__HIVE_DEFAULT_PARTITION__``; the log records the real values,
    so a partitioned table reads back exactly what was written."""
    from pyspark_anomaly_detection_spark.io.deltalite import _snapshot_state

    t = str(tmp_path / "t")
    rows = [(1, "a:b"), (2, None), (3, "50%")]
    write_delta(
        spark.createDataFrame(rows, "id long, p string"),
        t,
        partition_by=["p"],
    )
    values = {
        a["partitionValues"]["p"]
        for a in _snapshot_state(t).adds.values()
    }
    assert values == {"a:b", None, "50%"}
    assert sorted(
        tuple(r) for r in read_delta(spark, t).collect()
    ) == rows
