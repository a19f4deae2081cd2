"""Row-level DML on deltalite: copy-on-write DELETE/UPDATE/MERGE —
untouched files stay byte-identical, time travel sees pre-DML rows,
the change feed reports the rewrite, and partition-column predicates
fail loudly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyspark_anomaly_detection_spark.io.deltalite import (
    read_delta,
    read_delta_changes,
    write_delta,
)
from pyspark_anomaly_detection_spark.io.deltalite_dml import (
    delete_delta,
    merge_delta,
    update_delta,
)


def _build(spark, t, n_files=5, width=10):
    """n_files commits of one file each, ids [i*width, (i+1)*width)."""
    for i in range(n_files):
        write_delta(
            spark.range(i * width, (i + 1) * width)
            .select(F.col("id"), (F.col("id") * 2).alias("v"))
            .coalesce(1),
            t,
            mode="append",
        )


def _file_bytes(t):
    out = {}
    for root, _dirs, files in os.walk(t):
        if "_delta_log" in root:
            continue
        for n in files:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                out[os.path.relpath(p, t)] = open(p, "rb").read()
    return out


def test_delete_rewrites_only_touched_files(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)  # ids 0..49 across 5 files
    before = _file_bytes(t)
    out = delete_delta(spark, t, "id >= 12 AND id < 15")  # file 1 only
    assert out["files_rewritten"] == 1
    assert out["files_untouched"] == 4
    assert out["rows_deleted"] == 3
    # surviving rows exact
    got = sorted(r.id for r in read_delta(spark, t).collect())
    assert got == [i for i in range(50) if not (12 <= i < 15)]
    # every pre-DML file still on disk byte-identical (the removed one
    # stays for time travel until VACUUM), plus exactly one rewrite
    after = _file_bytes(t)
    assert set(before) <= set(after)
    assert all(before[p] == after[p] for p in before)
    assert len(after) == len(before) + 1
    # time travel still sees the deleted rows
    assert read_delta(spark, t, version=4).count() == 50
    # the change feed reports the rewrite: 10 deletes (whole old file)
    # and 7 re-inserts (survivors), net -3
    feed = read_delta_changes(spark, t, from_version=4)
    counts = {
        r._change_type: r.n
        for r in feed.groupBy("_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts == {"delete": 10, "insert": 7}


def test_delete_no_match_is_a_noop(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t, n_files=2)
    out = delete_delta(spark, t, "id > 1000")
    assert out["files_rewritten"] == 0 and out["rows_deleted"] == 0
    assert read_delta(spark, t).count() == 20


def test_update_applies_only_to_matching_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t, n_files=3)
    out = update_delta(spark, t, "id % 10 = 7", {"v": "v + 1000"})
    assert out["files_rewritten"] == 3  # every file holds one %10==7 row
    assert out["rows_updated"] == 3
    rows = {r.id: r.v for r in read_delta(spark, t).collect()}
    for i in range(30):
        assert rows[i] == i * 2 + (1000 if i % 10 == 7 else 0)


def test_partition_column_predicate_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    df = (
        spark.range(0, 20)
        .select(F.col("id"), (F.col("id") % 2).cast("string").alias("side"))
        .coalesce(1)
    )
    write_delta(df, t, partition_by=["side"])
    with pytest.raises(ValueError, match="partition column"):
        delete_delta(spark, t, "side = '1'")
    with pytest.raises(ValueError, match="partition column"):
        update_delta(spark, t, "side = '1'", {"id": "id + 1"})
    # data-column predicates on partitioned tables still work
    out = delete_delta(spark, t, "id < 4")
    assert out["rows_deleted"] == 4


def test_partition_guard_ignores_string_literals(spark, tmp_path):
    """A string literal that spells a partition column's name does not
    reference the column: DELETE, UPDATE and a NOT MATCHED BY SOURCE
    condition run, while naming the column (or ``src.`` outside a
    literal) still raises."""
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(1, "p", "a"), (2, "spam", "a"), (3, "eggs", "b"), (4, "p", "b")],
            "id long, note string, p string",
        ),
        t,
        partition_by=["p"],
    )
    with pytest.raises(ValueError, match="partition column 'p'"):
        delete_delta(spark, t, "p = 'a' AND note = 'p'")
    assert delete_delta(spark, t, "note = 'p'")["rows_deleted"] == 2
    out = update_delta(spark, t, "note LIKE '%p%'", {"id": "id + 10"})
    assert out["rows_updated"] == 1
    source = spark.createDataFrame(
        [(12, "x", "a")], "id long, note string, p string"
    )
    with pytest.raises(ValueError, match="cannot reference src"):
        merge_delta(
            spark, t, source, key="id",
            not_matched_by_source="delete",
            not_matched_by_source_condition="note = 'x' OR src.id > 0",
        )
    out = merge_delta(
        spark, t, source, key="id", matched=None, insert=False,
        not_matched_by_source="delete",
        not_matched_by_source_condition="note <> 'src.p'",
    )
    assert out["rows_deleted_by_source"] == 1
    assert [r.id for r in read_delta(spark, t).collect()] == [12]


def test_merge_upserts_in_one_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t, n_files=3)  # ids 0..29, v = 2*id
    src = spark.createDataFrame(
        [(5, 500), (25, 2500), (100, 10000)], "id long, v long"
    )
    out = merge_delta(spark, t, src, key="id")
    assert out["rows_matched"] == 2
    assert out["rows_inserted"] == 1
    assert out["files_rewritten"] == 2  # the two files holding 5 and 25
    rows = {r.id: r.v for r in read_delta(spark, t).collect()}
    assert len(rows) == 31
    assert rows[5] == 500 and rows[25] == 2500 and rows[100] == 10000
    assert rows[6] == 12  # untouched row intact
    # single commit: exactly one new version
    assert out["version"] == 3


def test_merge_rejects_ambiguous_source(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t, n_files=1)
    src = spark.createDataFrame([(1, 10), (1, 20)], "id long, v long")
    with pytest.raises(ValueError, match="multiple source rows"):
        merge_delta(spark, t, src, key="id")


# ------------- round 10: partition-aware COW + MERGE cardinality


def test_partitioned_delete_preserves_partition_values(spark, tmp_path):
    """ADVICE r9 (high): rewritten files of a partitioned table must
    commit with their original partitionValues — before the fix every
    rewritten row read back with NULL partition columns."""
    t = str(tmp_path / "t")
    df = spark.range(0, 40).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("side")
    )
    write_delta(df, t, partition_by=["side"])
    out = delete_delta(spark, t, "id < 8")  # touches rows in all 4 sides
    assert out["rows_deleted"] == 8
    rows = read_delta(spark, t).collect()
    assert len(rows) == 32
    assert all(r.side is not None for r in rows)
    got = {(r.id, r.side) for r in rows}
    want = {(i, str(i % 4)) for i in range(8, 40)}
    assert got == want


def test_partitioned_update_preserves_partition_values(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 30).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("side"),
        (F.col("id") * 2).alias("v"),
    )
    write_delta(df, t, partition_by=["side"])
    out = update_delta(spark, t, "id % 10 = 7", {"v": "v + 1000"})
    assert out["rows_updated"] == 3
    rows = {r.id: (r.side, r.v) for r in read_delta(spark, t).collect()}
    assert len(rows) == 30
    for i in range(30):
        want_v = i * 2 + (1000 if i % 10 == 7 else 0)
        assert rows[i] == (str(i % 3), want_v), i


def test_partitioned_rewrite_touches_only_matching_partitions(
    spark, tmp_path
):
    """Files of partitions with no matching rows stay byte-identical —
    the COW locality contract holds across the partition grouping."""
    t = str(tmp_path / "t")
    df = spark.range(0, 20).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("side")
    )
    write_delta(df, t, partition_by=["side"])
    before = _file_bytes(t)
    out = delete_delta(spark, t, "id = 4")  # side '0' only
    assert out["rows_deleted"] == 1
    after = _file_bytes(t)
    surviving = {k: v for k, v in after.items() if k in before}
    assert surviving == {k: before[k] for k in surviving}
    # side '1' partition must be fully untouched: all its original
    # bytes still present
    assert read_delta(spark, t).filter("side = '1'").count() == 10


def test_merge_preserves_duplicate_target_cardinality(spark, tmp_path):
    """ADVICE r9 (medium): WHEN MATCHED UPDATE SET * updates EACH
    matched target row — N duplicate-key target rows stay N rows, all
    carrying the source values (the old anti-join+insert collapsed them
    to one)."""
    t = str(tmp_path / "t")
    dup = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (3, 30)], "id long, v long"
    ).coalesce(1)
    write_delta(dup, t)
    src = spark.createDataFrame([(1, 100), (9, 900)], "id long, v long")
    out = merge_delta(spark, t, src, key="id")
    assert out["rows_matched"] == 2  # both id=1 duplicates matched
    assert out["rows_inserted"] == 1
    rows = sorted((r.id, r.v) for r in read_delta(spark, t).collect())
    assert rows == [(1, 100), (1, 100), (2, 20), (3, 30), (9, 900)]


def test_merge_null_source_value_overwrites(spark, tmp_path):
    """The in-place update uses a match flag, not coalesce: a NULL in
    the source must overwrite the target value, as UPDATE SET * does."""
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
        .coalesce(1),
        t,
    )
    src = spark.createDataFrame([(1, None)], "id long, v long")
    out = merge_delta(spark, t, src, key="id")
    assert out["rows_matched"] == 1
    rows = {r.id: r.v for r in read_delta(spark, t).collect()}
    assert rows == {1: None, 2: 20}


def test_merge_on_partitioned_table(spark, tmp_path):
    """Round 10: MERGE on a partitioned table — in-place updates stay in
    their partitions, inserts land in their own (including brand-new)
    partitions via the hive-layout write."""
    t = str(tmp_path / "t")
    df = spark.range(0, 12).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("side"),
        (F.col("id") * 2).alias("v"),
    )
    write_delta(df, t, partition_by=["side"])
    src = spark.createDataFrame(
        [
            (4, "0", 400),    # matched, same partition -> in-place update
            (100, "1", 1000), # new key, existing partition
            (101, "9", 9990), # new key, NEW partition
        ],
        "id long, side string, v long",
    )
    out = merge_delta(spark, t, src, key="id")
    assert out["rows_matched"] == 1
    assert out["rows_inserted"] == 2
    rows = {r.id: (r.side, r.v) for r in read_delta(spark, t).collect()}
    assert len(rows) == 14
    assert rows[4] == ("0", 400)
    assert rows[100] == ("1", 1000)
    assert rows[101] == ("9", 9990)
    assert rows[5] == ("1", 10)  # untouched row intact
    assert all(side is not None for side, _ in rows.values())


def test_merge_partition_move(spark, tmp_path):
    """Partition-moving MERGE (round 13; was a fail-loud guard): a
    matched UPDATE row whose source partition values differ leaves its
    old partition's files and lands, updated, in the new partition —
    real Delta's MERGE semantics."""
    t = str(tmp_path / "t")
    df = spark.range(0, 6).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("side"),
        (F.col("id") * 2).alias("v"),
    )
    write_delta(df, t, partition_by=["side"])
    src = spark.createDataFrame(
        [
            (4, "1", 99),   # 4 lives in side '0' -> moves to '1'
            (2, "0", 22),   # stays in side '0', in-place update
            (100, "7", 700),  # unmatched -> insert into NEW partition
        ],
        "id long, side string, v long",
    )
    out = merge_delta(spark, t, src, key="id")
    assert out["rows_matched"] == 2
    assert out["rows_moved"] == 1
    assert out["rows_updated"] == 2
    assert out["rows_inserted"] == 1
    rows = {r.id: (r.side, r.v) for r in read_delta(spark, t).collect()}
    assert len(rows) == 7
    assert rows[4] == ("1", 99)      # moved AND updated
    assert rows[2] == ("0", 22)      # in-place update
    assert rows[100] == ("7", 700)   # insert
    assert rows[3] == ("1", 6)       # untouched rows intact
    assert rows[0] == ("0", 0)
    # the move is honest in the LOG, not just the read: no active file
    # of partition '0' contains id 4 anymore
    from pyspark_anomaly_detection_spark.io.deltalite import _snapshot_state

    snap = _snapshot_state(t)
    part0 = [
        rel
        for rel, a in snap.adds.items()
        if a.get("partitionValues", {}).get("side") == "0"
    ]
    got = spark.read.parquet(
        *[str(tmp_path / "t" / rel) for rel in part0]
    )
    assert 4 not in {r.id for r in got.collect()}


def test_merge_partition_move_blocked_by_condition(spark, tmp_path):
    """ADVICE r12: a conditional UPDATE whose partition-differing
    matched rows all FAIL the condition moves nothing — the rows stay
    untouched in their original partitions."""
    t = str(tmp_path / "t")
    df = spark.range(0, 6).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("side"),
        (F.col("id") * 2).alias("v"),
    )
    write_delta(df, t, partition_by=["side"])
    src = spark.createDataFrame(
        [(4, "1", 99)], "id long, side string, v long"
    )
    out = merge_delta(
        spark, t, src, key="id",
        matched_condition="src.v > v",  # 99 > 8 is true…
        insert=False,
    )
    assert out["rows_moved"] == 1  # …so this one DOES move
    rows = {r.id: (r.side, r.v) for r in read_delta(spark, t).collect()}
    assert rows[4] == ("1", 99)

    # now a condition every mover fails: nothing moves, nothing changes
    src2 = spark.createDataFrame(
        [(2, "1", 0)], "id long, side string, v long"
    )
    out2 = merge_delta(
        spark, t, src2, key="id",
        matched_condition="src.v > v",  # 0 > 4 is false
        insert=False,
    )
    assert out2["rows_moved"] == 0
    assert out2["rows_updated"] == 0
    rows2 = {r.id: (r.side, r.v) for r in read_delta(spark, t).collect()}
    assert rows2[2] == ("0", 4)  # untouched, still in side '0'


def test_merge_key_cannot_be_partition_column(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 6).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("side")
    )
    write_delta(df, t, partition_by=["side"])
    src = spark.createDataFrame([("0", 1)], "side string, id long")
    with pytest.raises(ValueError, match="partition column"):
        merge_delta(spark, t, src, key="side")


def test_merge_matched_delete_clause(spark, tmp_path):
    """WHEN MATCHED THEN DELETE + WHEN NOT MATCHED INSERT: the CDC
    tombstone-apply shape — matched rows vanish, unmatched source rows
    land, everything else intact."""
    t = str(tmp_path / "t")
    _build(spark, t, n_files=3)  # ids 0..29, v = 2*id
    src = spark.createDataFrame(
        [(5, 0), (25, 0), (100, 10000)], "id long, v long"
    )
    out = merge_delta(spark, t, src, key="id", matched="delete")
    assert out["rows_matched"] == 2
    assert out["rows_deleted"] == 2
    assert out["rows_inserted"] == 1
    rows = {r.id: r.v for r in read_delta(spark, t).collect()}
    assert len(rows) == 29  # 30 - 2 deleted + 1 inserted
    assert 5 not in rows and 25 not in rows
    assert rows[100] == 10000
    assert rows[6] == 12


def test_merge_insert_only(spark, tmp_path):
    """matched=None: idempotent-ingest MERGE — matched rows untouched
    (their files are not even rewritten), only new keys append."""
    t = str(tmp_path / "t")
    _build(spark, t, n_files=2)  # ids 0..19
    before_files = set(
        read_delta(spark, t).select(F.input_file_name()).distinct().toPandas()[
            "input_file_name()"
        ]
    )
    src = spark.createDataFrame(
        [(5, 9999), (100, 10000), (101, 10100)], "id long, v long"
    )
    out = merge_delta(spark, t, src, key="id", matched=None)
    assert out["rows_matched"] == 1
    assert out["rows_inserted"] == 2
    assert out["files_rewritten"] == 0
    rows = {r.id: r.v for r in read_delta(spark, t).collect()}
    assert rows[5] == 10  # matched row NOT updated
    assert rows[100] == 10000 and rows[101] == 10100
    after_files = set(
        read_delta(spark, t).select(F.input_file_name()).distinct().toPandas()[
            "input_file_name()"
        ]
    )
    assert before_files <= after_files  # original files untouched


def test_merge_matched_condition_gates_update(spark, tmp_path):
    """WHEN MATCHED AND src.v > v THEN UPDATE — the CDC freshness guard:
    stale source rows leave the target row untouched."""
    t = str(tmp_path / "t")
    _build(spark, t, n_files=2)  # ids 0..19, v = 2*id
    src = spark.createDataFrame(
        [(5, 9999), (6, 0), (100, 10000)], "id long, v long"
    )
    out = merge_delta(
        spark, t, src, key="id", matched_condition="src.v > v"
    )
    assert out["rows_matched"] == 2
    assert out["rows_updated"] == 1  # only id=5 passes the condition
    assert out["rows_inserted"] == 1
    rows = {r.id: r.v for r in read_delta(spark, t).collect()}
    assert rows[5] == 9999  # fresh source won
    assert rows[6] == 12  # stale source ignored
    assert rows[100] == 10000


def test_merge_matched_condition_gates_delete(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t, n_files=2)  # ids 0..19
    src = spark.createDataFrame(
        [(3, 1), (4, 0)], "id long, v long"
    )
    out = merge_delta(
        spark,
        t,
        src,
        key="id",
        matched="delete",
        matched_condition="src.v = 1",
        insert=False,
    )
    assert out["rows_matched"] == 2
    assert out["rows_deleted"] == 1
    assert out["rows_inserted"] == 0
    rows = {r.id: r.v for r in read_delta(spark, t).collect()}
    assert 3 not in rows and rows[4] == 8 and len(rows) == 19


def test_merge_no_insert_clause(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t, n_files=2)
    src = spark.createDataFrame([(5, 500), (100, 1)], "id long, v long")
    out = merge_delta(spark, t, src, key="id", insert=False)
    assert out["rows_inserted"] == 0
    rows = {r.id: r.v for r in read_delta(spark, t).collect()}
    assert rows[5] == 500 and 100 not in rows


def test_matched_condition_token_translation():
    """ADVICE r12 (medium): src.<col> translation is a token pass, not
    string replacement — prefixes never corrupt longer names, string
    literals pass through, unknown src.* references raise."""
    from pyspark_anomaly_detection_spark.io.deltalite_dml import (
        _translate_matched_condition as tr,
    )

    cols = {"v", "id_ts", "note"}
    # key='id' must NOT eat the prefix of src.id_ts
    assert tr("src.id_ts > id_ts", "id", cols) == "_dml_src_id_ts > id_ts"
    # src.<key> maps to the bare key
    assert tr("src.id % 2 = 1", "id", cols) == "id % 2 = 1"
    # 'src.' inside a string literal is untouched ('' escape too)
    assert (
        tr("note <> 'src.v is ''src.x''' AND src.v > v", "id", cols)
        == "note <> 'src.v is ''src.x''' AND _dml_src_v > v"
    )
    # unknown src.* reference raises instead of silently reading target
    with pytest.raises(ValueError, match="src.nope"):
        tr("src.nope = 1", "id", cols)


def test_merge_condition_key_prefix_column(spark, tmp_path):
    """End-to-end: a source column whose name starts with the merge key
    (id vs id_ts) is referenced via src. in the condition — the old
    textual replacement corrupted it into the TARGET column (condition
    always false); the token pass reads the source value."""
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(1, 100, 10), (2, 200, 20)], "id long, id_ts long, v long"
        ).coalesce(1),
        t,
    )
    src = spark.createDataFrame(
        [(1, 999, 11), (2, 50, 22)], "id long, id_ts long, v long"
    )
    out = merge_delta(
        spark, t, src, key="id",
        matched_condition="src.id_ts > id_ts",  # freshness guard
        insert=False,
    )
    assert out["rows_updated"] == 1  # only id=1's source is fresher
    rows = {r.id: (r.id_ts, r.v) for r in read_delta(spark, t).collect()}
    assert rows[1] == (999, 11)
    assert rows[2] == (200, 20)  # stale source ignored


def test_merge_clause_validation(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t, n_files=1)
    src = spark.createDataFrame([(1, 1)], "id long, v long")
    with pytest.raises(ValueError, match="matched must be"):
        merge_delta(spark, t, src, key="id", matched="upsert")
    with pytest.raises(ValueError, match="without a matched clause"):
        merge_delta(
            spark, t, src, key="id", matched=None, matched_condition="v > 0"
        )
    with pytest.raises(ValueError, match="nothing to do"):
        merge_delta(spark, t, src, key="id", matched=None, insert=False)


def test_merge_not_matched_by_source_delete_full_sync(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE DELETE + update + insert = the full
    snapshot-sync MERGE: afterwards the table EQUALS the source."""
    t = str(tmp_path / "t")
    _build(spark, t, n_files=3)  # ids 0..29, v = 2*id
    src = spark.createDataFrame(
        [(i, i * 100) for i in range(10, 40)], "id long, v long"
    )
    out = merge_delta(
        spark, t, src, key="id", not_matched_by_source="delete"
    )
    assert out["rows_matched"] == 20        # ids 10..29
    assert out["rows_inserted"] == 10       # ids 30..39
    assert out["rows_deleted_by_source"] == 10  # ids 0..9
    rows = {r.id: r.v for r in read_delta(spark, t).collect()}
    assert rows == {i: i * 100 for i in range(10, 40)}


def test_merge_not_matched_by_source_delete_with_condition(spark, tmp_path):
    """The NMBS condition (target columns only) bounds both the rows
    deleted AND the files rewritten."""
    t = str(tmp_path / "t")
    _build(spark, t, n_files=3)  # files [0..9], [10..19], [20..29]
    src = spark.createDataFrame(
        [(i, 0) for i in range(10, 20)], "id long, v long"
    )
    # delete unmatched rows only where id >= 25 — file 0 has unmatched
    # rows but none passing, so it must stay byte-identical
    before = _file_bytes(t)
    out = merge_delta(
        spark, t, src, key="id",
        matched=None, insert=False,
        not_matched_by_source="delete",
        not_matched_by_source_condition="id >= 25",
    )
    assert out["rows_deleted_by_source"] == 5  # ids 25..29
    assert out["files_rewritten"] == 1  # only the [20..29] file
    after = _file_bytes(t)
    assert all(after[p] == b for p, b in before.items() if p in after)
    rows = {r.id for r in read_delta(spark, t).collect()}
    assert rows == set(range(25))


def test_merge_not_matched_by_source_update_soft_delete(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE UPDATE SET — the SCD staleness-flag
    shape: rows gone from the source get flagged, not removed; every
    assignment reads the OLD row."""
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, i * 2, 0) for i in range(10)], "id long, v long, stale long"
        ).coalesce(1),
        t,
    )
    src = spark.createDataFrame(
        [(i, i * 2, 0) for i in range(5)], "id long, v long, stale long"
    )
    out = merge_delta(
        spark, t, src, key="id",
        insert=False,
        not_matched_by_source="update",
        not_matched_by_source_set={"stale": "1", "v": "v + 1000"},
    )
    assert out["rows_updated_by_source"] == 5
    rows = {r.id: (r.v, r.stale) for r in read_delta(spark, t).collect()}
    for i in range(5):
        assert rows[i] == (i * 2, 0)          # matched: updated in place
    for i in range(5, 10):
        assert rows[i] == (i * 2 + 1000, 1)   # unmatched: flagged


def test_merge_nmbs_on_partitioned_table(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 12).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("side"),
        (F.col("id") * 2).alias("v"),
    )
    write_delta(df, t, partition_by=["side"])
    src = spark.createDataFrame(
        [(i, str(i % 2), i * 100) for i in range(6)],
        "id long, side string, v long",
    )
    out = merge_delta(
        spark, t, src, key="id", not_matched_by_source="delete"
    )
    assert out["rows_deleted_by_source"] == 6
    rows = {r.id: (r.side, r.v) for r in read_delta(spark, t).collect()}
    assert rows == {i: (str(i % 2), i * 100) for i in range(6)}


def test_merge_nmbs_validation(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t, n_files=1)
    src = spark.createDataFrame([(1, 1)], "id long, v long")
    with pytest.raises(ValueError, match="cannot reference src"):
        merge_delta(
            spark, t, src, key="id",
            not_matched_by_source="delete",
            not_matched_by_source_condition="src.v > 0",
        )
    with pytest.raises(ValueError, match="needs"):
        merge_delta(
            spark, t, src, key="id", not_matched_by_source="update"
        )
    with pytest.raises(ValueError, match="DELETE clause"):
        merge_delta(
            spark, t, src, key="id",
            not_matched_by_source="delete",
            not_matched_by_source_set={"v": "0"},
        )
    with pytest.raises(ValueError, match="without a not_matched"):
        merge_delta(
            spark, t, src, key="id",
            not_matched_by_source_condition="v > 0",
        )
    with pytest.raises(ValueError, match="merge key / identity"):
        merge_delta(
            spark, t, src, key="id",
            not_matched_by_source="update",
            not_matched_by_source_set={"id": "0"},
        )


def test_merge_clauses_on_partitioned_table(spark, tmp_path):
    """Round-12 clauses compose with partitioned tables: the delete
    branch rewrites only touched partitions (values reinjected), and the
    insert-only branch appends via the hive-layout write without
    rewriting any file."""
    t = str(tmp_path / "t")
    df = spark.range(0, 12).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("side"),
        (F.col("id") * 2).alias("v"),
    )
    write_delta(df, t, partition_by=["side"])
    # conditional delete (no inserts): only src.v = 1 rows vanish
    src = spark.createDataFrame(
        [(4, "0", 1), (5, "1", 0)], "id long, side string, v long"
    )
    out = merge_delta(
        spark,
        t,
        src,
        key="id",
        matched="delete",
        matched_condition="src.v = 1",
        insert=False,
    )
    assert out["rows_deleted"] == 1 and out["rows_inserted"] == 0
    rows = {r.id: (r.side, r.v) for r in read_delta(spark, t).collect()}
    assert 4 not in rows and rows[5] == ("1", 10) and len(rows) == 11
    # insert-only into an existing and a brand-new partition
    src2 = spark.createDataFrame(
        [(5, "1", 999), (200, "0", 400), (201, "9", 402)],
        "id long, side string, v long",
    )
    out2 = merge_delta(spark, t, src2, key="id", matched=None)
    assert out2["files_rewritten"] == 0 and out2["rows_inserted"] == 2
    rows = {r.id: (r.side, r.v) for r in read_delta(spark, t).collect()}
    assert rows[5] == ("1", 10)  # matched row untouched
    assert rows[200] == ("0", 400) and rows[201] == ("9", 402)
    assert all(side is not None for side, _ in rows.values())


def test_merge_nmbs_with_identity_columns(spark, tmp_path):
    """Composition pin: NOT MATCHED BY SOURCE DELETE on a table with a
    GENERATED ALWAYS AS IDENTITY column — surviving rows keep their
    allocated identity values, inserts allocate above the committed
    mark, and the clause matrix composes in one commit."""
    from pyspark_anomaly_detection_spark.io.deltalite import write_delta

    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, i * 2) for i in range(10)], "k long, v long"
        ).coalesce(1),
        t,
        identity_columns={"rid": {"start": 100, "step": 1}},
    )
    before = {r.k: r.rid for r in read_delta(spark, t).collect()}
    src = spark.createDataFrame(
        [(i, i * 100) for i in range(5, 12)], "k long, v long"
    )
    out = merge_delta(
        spark, t, src, key="k", not_matched_by_source="delete"
    )
    assert out["rows_deleted_by_source"] == 5   # ks 0..4
    assert out["rows_inserted"] == 2            # ks 10, 11
    rows = {r.k: (r.v, r.rid) for r in read_delta(spark, t).collect()}
    assert set(rows) == set(range(5, 12))
    for k in range(5, 10):
        assert rows[k] == (k * 100, before[k])  # identity stable
    new_rids = {rows[k][1] for k in (10, 11)}
    assert all(r > max(before.values()) for r in new_rids)  # above mark
    assert len(new_rids) == 2


def test_merge_partition_move_recomputes_generated(spark, tmp_path):
    """Composition pin: a partition-MOVING merge on a table with a
    generated column — the mover re-enters through the insert path and
    its generated value recomputes from the UPDATED row."""
    from pyspark_anomaly_detection_spark.io.deltalite import write_delta

    t = str(tmp_path / "t")
    write_delta(
        spark.range(0, 6).select(
            F.col("id"),
            (F.col("id") % 2).cast("string").alias("side"),
            (F.col("id") * 2).alias("v"),
        ),
        t,
        partition_by=["side"],
        generated_columns={"v2": "v * 10"},
    )
    src = spark.createDataFrame(
        [(4, "1", 99)], "id long, side string, v long"
    ).withColumn("v2", F.col("v") * 10)
    out = merge_delta(spark, t, src, key="id")
    assert out["rows_moved"] == 1
    rows = {
        r.id: (r.side, r.v, r.v2) for r in read_delta(spark, t).collect()
    }
    assert rows[4] == ("1", 99, 990)   # moved, updated, recomputed
    assert rows[2] == ("0", 4, 40)     # untouched rows keep theirs


def test_update_assignments_read_the_old_row(spark, tmp_path):
    """``SET v = v + 1, w = v WHERE v = 5``: every assignment and the
    predicate read the pre-update row, so ``w`` takes the OLD ``v`` —
    and the CDF postimage records exactly what the table holds."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        set_table_properties,
    )

    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(1, 5, 0), (2, 7, 0)], "id long, v long, w long"
        ),
        t,
    )
    set_table_properties(t, {"delta.enableChangeDataFeed": "true"})
    with pytest.raises(ValueError, match="unknown column"):
        update_delta(spark, t, "v = 5", {"x": "1"})
    out = update_delta(spark, t, "v = 5", {"v": "v + 1", "w": "v"})
    assert out["rows_updated"] == 1
    table = sorted(tuple(r) for r in read_delta(spark, t).collect())
    assert table == [(1, 6, 5), (2, 7, 0)]
    post = [
        (r.id, r.v, r.w)
        for r in read_delta_changes(spark, t, from_version=out["version"] - 1)
        .filter("_change_type = 'update_postimage'")
        .collect()
    ]
    assert post == [(1, 6, 5)]


def test_plain_and_mapped_tables_run_the_same_jobs(spark, tmp_path):
    """DELETE, UPDATE and MERGE read a plain table's files with the
    committed schema, exactly as they read a column-mapped copy, so no
    op pays a schema-inference job on one and not the other: each op
    runs the same number of Spark jobs on both tables."""
    from pyspark_anomaly_detection_spark.io.deltalite_cm import (
        write_delta_mapped,
    )

    sc = spark.sparkContext
    df = spark.range(0, 40).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    plain, mapped = str(tmp_path / "plain"), str(tmp_path / "mapped")
    write_delta(df, plain)
    write_delta_mapped(df, mapped)
    source = spark.createDataFrame([(3, 0), (99, 1)], "id long, v long")
    ops = {
        "delete": lambda t: delete_delta(spark, t, "id % 5 = 0"),
        "update": lambda t: update_delta(spark, t, "id % 3 = 0", {"v": "0"}),
        "merge": lambda t: merge_delta(spark, t, source, key="id"),
    }
    jobs = {}
    for table in (plain, mapped):
        for name, op in ops.items():
            group = f"dml-jobs-{name}-{os.path.basename(table)}"
            sc.setJobGroup(group, group)
            try:
                op(table)
            finally:
                sc.setJobGroup("", "")
            jobs[name, table] = len(sc.statusTracker().getJobIdsForGroup(group))
    for name in ops:
        assert jobs[name, plain] == jobs[name, mapped] > 0, jobs


def test_delete_keeps_rows_whose_predicate_is_null(spark, tmp_path):
    """DELETE removes the rows its predicate holds for; a row where the
    predicate is NULL stays, even in a file the DELETE rewrites."""
    t = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 1)], "id long, v long"
        ).coalesce(1),
        t,
    )
    out = delete_delta(spark, t, "v > 5")
    assert out["rows_deleted"] == 1 and out["files_rewritten"] == 1
    assert sorted(r.id for r in read_delta(spark, t).collect()) == [2, 3]


def test_merge_census_is_one_action_whatever_the_clauses(
    spark, tmp_path, monkeypatch
):
    """Before its first staged write a MERGE runs its source check and
    one census of the target, whatever its clauses: a partitioned,
    change-feed MERGE with a matched condition, a partition move and a
    NOT MATCHED BY SOURCE delete runs no more Spark jobs before staging
    than a plain upsert into an unpartitioned table."""
    from pyspark_anomaly_detection_spark.io import deltalite
    from pyspark_anomaly_detection_spark.io.deltalite import (
        set_table_properties,
    )

    sc = spark.sparkContext
    stage = deltalite._stage
    seen: dict[str, int] = {}

    def first_stage(*args, **kwargs):
        group = sc.getLocalProperty("spark.jobGroup.id")
        if group and group not in seen:
            seen[group] = len(sc.statusTracker().getJobIdsForGroup(group))
        return stage(*args, **kwargs)

    monkeypatch.setattr(deltalite, "_stage", first_stage)

    def pre_stage_jobs(name, op):
        group = f"merge-census-{name}"
        sc.setJobGroup(group, group)
        try:
            out = op()
        finally:
            sc.setJobGroup("", "")
        return seen[group], out

    plain, part = str(tmp_path / "plain"), str(tmp_path / "part")
    _build(spark, plain, n_files=4)
    write_delta(
        spark.range(0, 40).select(
            F.col("id"),
            (F.col("id") % 2).cast("string").alias("side"),
            (F.col("id") * 2).alias("v"),
        ),
        part,
        partition_by=["side"],
    )
    set_table_properties(part, {"delta.enableChangeDataFeed": "true"})
    upsert = spark.createDataFrame([(3, 0), (99, 1)], "id long, v long")
    source = spark.createDataFrame(
        [(3, "0", 100), (4, "0", 0), (6, "0", 100), (99, "1", 1)],
        "id long, side string, v long",
    )
    plain_jobs, _ = pre_stage_jobs(
        "plain", lambda: merge_delta(spark, plain, upsert, key="id")
    )
    clause_jobs, out = pre_stage_jobs(
        "clauses",
        lambda: merge_delta(
            spark,
            part,
            source,
            key="id",
            matched_condition="src.v > v",
            not_matched_by_source="delete",
            not_matched_by_source_condition="id < 10",
        ),
    )
    assert out["rows_updated"] == 2 and out["rows_moved"] == 1
    assert out["rows_deleted_by_source"] == 7 and out["rows_inserted"] == 1
    assert 0 < clause_jobs <= plain_jobs, (clause_jobs, plain_jobs)


def test_update_and_merge_keep_the_column_type(spark, tmp_path):
    """An assignment or a MERGE source wider than its column (``v + 1.5``
    on a long, a double source column) is written with the column's
    committed type, in the rewritten and inserted files and in the change
    feed, so the table still reads back."""
    from pyspark_anomaly_detection_spark.io.deltalite import set_table_properties

    t = str(tmp_path / "t")
    _build(spark, t, n_files=2)  # ids 0..19, v = 2 * id
    set_table_properties(t, {"delta.enableChangeDataFeed": "true"})
    update_delta(spark, t, "id = 12", {"v": "v + 1.5"})
    merge_delta(
        spark,
        t,
        spark.createDataFrame([(3, 7.0), (99, 1.0)], "id long, v double"),
        key="id",
    )
    df = read_delta(spark, t)
    assert dict(df.dtypes)["v"] == "bigint"
    got = {r.id: r.v for r in df.collect()}
    assert got[12] == 25 and got[3] == 7 and got[4] == 8 and got[99] == 1
    feed = read_delta_changes(spark, t, 2).filter(
        F.col("_change_type").isin("update_postimage", "insert")
    )
    assert dict(feed.dtypes)["v"] == "bigint"
    assert sorted(r.v for r in feed.collect()) == [1, 7, 25]


def test_delete_emptying_a_file_commits_no_empty_file(spark, tmp_path):
    """A copy-on-write DELETE that removes every row of a file removes
    the file and adds nothing for it."""
    import pyarrow.parquet as pq

    from pyspark_anomaly_detection_spark.io.deltalite import _snapshot_state

    t = str(tmp_path / "t")
    _build(spark, t, n_files=3)  # ids 0..29, one file per 10
    out = delete_delta(spark, t, "id < 10")
    assert out["rows_deleted"] == 10 and out["files_rewritten"] == 1
    adds = _snapshot_state(t).adds
    assert len(adds) == 2
    assert all(
        pq.read_metadata(os.path.join(t, rel)).num_rows > 0 for rel in adds
    )
    assert sorted(r.id for r in read_delta(spark, t).collect()) == list(
        range(10, 30)
    )


def test_empty_table_still_creates_and_reads(spark, tmp_path):
    """Creating a table from an empty frame commits its schema and no
    data file; it reads back empty with that schema and takes appends."""
    from pyspark_anomaly_detection_spark.io.deltalite import _snapshot_state

    t = str(tmp_path / "t")
    write_delta(spark.createDataFrame([], "id long, v long"), t)
    assert not _snapshot_state(t).adds
    df = read_delta(spark, t)
    assert df.dtypes == [("id", "bigint"), ("v", "bigint")] and df.count() == 0
    write_delta(spark.createDataFrame([(1, 2)], "id long, v long"), t, mode="append")
    assert [tuple(r) for r in read_delta(spark, t).collect()] == [(1, 2)]
