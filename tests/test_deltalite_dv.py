"""Deletion vectors: roaring/Z85 codec round-trips, merge-on-read
DELETE semantics (no data files written, DV merge, time travel), the
DV-subtracting reader, and (round 14) the DV × DML composition — COW
DELETE/UPDATE/MERGE, OPTIMIZE and stats backfill all run on DV tables
by reading touched files through their bitmaps."""

from __future__ import annotations

import os
import random
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyspark_anomaly_detection_spark.io.deltalite import (
    delta_history,
    read_delta,
    write_delta,
)
from pyspark_anomaly_detection_spark.io.deltalite_dv import (
    delete_delta_dv,
    z85_decode,
    z85_encode,
)
from pyspark_anomaly_detection_spark.io.roaring import (
    deserialize_roaring32,
    deserialize_roaring64,
    deserialize_roaring64_array,
    serialize_roaring32,
    serialize_roaring64,
    serialize_roaring64_array,
)


def test_roaring32_round_trips_all_container_kinds():
    random.seed(11)
    cases = [
        [0],
        [65535, 65536, 0xFFFFFFFF],
        list(range(300)),                      # run container
        sorted(random.sample(range(1 << 16), 3000)),   # array
        sorted(random.sample(range(1 << 16), 9000)),   # bitmap
        list(range(0, 1 << 17, 1)),            # runs across containers
    ]
    for c in cases:
        got, _ = deserialize_roaring32(serialize_roaring32(c))
        assert got == c


def test_roaring64_round_trip_sparse_buckets():
    random.seed(13)
    vals = sorted(
        set(random.sample(range(1 << 45), 2000))
        | {0, 1 << 32, (1 << 32) + 1, (77 << 32) + 123}
    )
    assert deserialize_roaring64(serialize_roaring64(vals)) == vals
    assert deserialize_roaring64(serialize_roaring64([])) == []


def test_roaring64_array_round_trips_random_runs_and_high_buckets():
    """The numpy encoder inverts the numpy decoder on random, run-heavy
    and >= 2**32 inputs, and the list API encodes the same bytes."""
    rng = np.random.default_rng(17)
    runs = np.concatenate(
        [
            np.arange(s, s + n)
            for s, n in [(0, 70000), (200000, 5), (1 << 20, 300)]
        ]
    )
    cases = [
        np.unique(rng.integers(0, 1 << 40, 3000)),
        np.unique(runs),
        np.unique(rng.integers(0, 1 << 17, 9000)),  # bitmap containers
        np.array([5, 1 << 32, (1 << 32) + 1, (77 << 32) + 123]),
        np.array([], np.uint64),
    ]
    for vals in cases:
        vals = vals.astype(np.uint64)
        blob = serialize_roaring64_array(vals)
        assert np.array_equal(deserialize_roaring64_array(blob), vals)
        assert serialize_roaring64(vals.tolist()) == blob
    with pytest.raises(ValueError, match="sorted and distinct"):
        serialize_roaring64_array(np.array([3, 1], np.uint64))


def _reference_roaring64(values: list[int]) -> bytes:
    """Per-value reference encoder (the codec's original loop form):
    group by the high 32 then 16 bits, pick RUN when strictly smaller
    than ARRAY (card <= 4096) or BITMAP, and lay out the header."""
    out = struct.pack("<Iq", 1681511377, len({v >> 32 for v in values}))
    for key in sorted({v >> 32 for v in values}):
        conts: dict[int, list[int]] = {}
        for v in values:
            if v >> 32 == key:
                conts.setdefault((v >> 16) & 0xFFFF, []).append(v & 0xFFFF)
        reps = []
        for lows in conts.values():
            runs = [[lows[0], lows[0]]]
            for v in lows[1:]:
                if v == runs[-1][1] + 1:
                    runs[-1][1] = v
                else:
                    runs.append([v, v])
            plain = 2 * len(lows) if len(lows) <= 4096 else 8192
            if 2 + 4 * len(runs) < plain:
                pairs = [x for a, b in runs for x in (a, b - a)]
                body = struct.pack(f"<H{len(pairs)}H", len(runs), *pairs)
                reps.append((True, body))
            elif len(lows) <= 4096:
                reps.append((False, struct.pack(f"<{len(lows)}H", *lows)))
            else:
                bits = bytearray(8192)
                for v in lows:
                    bits[v >> 3] |= 1 << (v & 7)
                reps.append((False, bytes(bits)))
        n, has_run = len(conts), any(r for r, _ in reps)
        head = bytearray()
        if has_run:
            head += struct.pack("<I", 12347 | ((n - 1) << 16))
            bitset = bytearray((n + 7) // 8)
            for i, (r, _) in enumerate(reps):
                bitset[i // 8] |= r << (i % 8)
            head += bitset
        else:
            head += struct.pack("<II", 12346, n)
        for k, lows in conts.items():
            head += struct.pack("<HH", k, len(lows) - 1)
        if not has_run or n >= 4:
            pos = len(head) + 4 * n
            for _, body in reps:
                head += struct.pack("<I", pos)
                pos += len(body)
        out += struct.pack("<I", key) + head + b"".join(b for _, b in reps)
    return out


def test_roaring64_array_matches_the_per_value_reference():
    """Same container choices, same bytes as the per-value encoder, on
    random, run-heavy, bitmap-dense and multi-bucket inputs."""
    rng = random.Random(23)
    cases = [[0], [65535, 65536, 0xFFFFFFFF], list(range(1 << 17))]
    for _ in range(60):
        kind = rng.randrange(4)
        if kind == 0:
            vals = set(rng.sample(range(1 << 20), rng.randrange(1, 3000)))
        elif kind == 1:
            vals = set()
            for _ in range(rng.randrange(1, 20)):
                start = rng.randrange(1 << 22)
                vals.update(range(start, start + rng.randrange(1, 3000)))
        elif kind == 2:
            vals = set(rng.sample(range(1 << 45), rng.randrange(1, 200)))
        else:
            vals = set(rng.sample(range(1 << 17), rng.randrange(4000, 12000)))
        cases.append(sorted(vals))
    for vals in cases:
        blob = serialize_roaring64_array(np.array(vals, np.uint64))
        assert blob == _reference_roaring64(vals), vals[:4]


def _portable(key: int, body: bytes) -> bytes:
    """One-bucket portable 64-bit bitmap around a 32-bit body."""
    return struct.pack("<IqI", 1681511377, 1, key) + body


def test_roaring64_array_exact_container_bytes():
    """Hand-built bytes pin each container the writer picks: ARRAY
    (cookie 12346, key/cardinality-1, offset), BITMAP (card > 4096,
    little-endian bits) and RUN (cookie 12347, run bitset, no offsets
    below 4 containers), plus a key above 2**32."""
    array = struct.pack("<IIHHI", 12346, 1, 0, 2, 16)
    assert serialize_roaring64_array(np.array([1, 2, 5], np.uint64)) == (
        _portable(0, array + struct.pack("<HHH", 1, 2, 5))
    )
    run = struct.pack("<IBHHHHH", 12347, 1, 0, 99, 1, 100, 99)
    assert serialize_roaring64_array(
        np.arange(100, 200, dtype=np.uint64)
    ) == _portable(0, run)
    bits = b"\x55" * 1250 + b"\x00" * (8192 - 1250)  # every even value
    bitmap = struct.pack("<IIHHI", 12346, 1, 0, 4999, 16) + bits
    assert serialize_roaring64_array(
        np.arange(0, 10000, 2, dtype=np.uint64)
    ) == _portable(0, bitmap)
    high = struct.pack("<IIHHIH", 12346, 1, 0, 0, 16, 7)
    assert serialize_roaring64_array(
        np.array([(1 << 32) + 7], np.uint64)
    ) == _portable(1, high)


def test_z85_round_trip_with_padding():
    for n in range(0, 9):
        data = bytes(range(n))
        enc = z85_encode(data)
        assert len(enc) % 5 == 0
        assert z85_decode(enc, size=n) == data


def _parquet_files(t):
    out = []
    for root, _dirs, files in os.walk(t):
        if "_delta_log" in root:
            continue
        out.extend(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    return sorted(out)


def _build(spark, t):
    for i in range(3):
        write_delta(
            spark.range(i * 10, (i + 1) * 10)
            .select(F.col("id"), (F.col("id") * 2).alias("v"))
            .coalesce(1),
            t,
            mode="append",
        )


def test_dv_delete_writes_no_data_files(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)  # ids 0..29
    before = _parquet_files(t)
    out = delete_delta_dv(spark, t, "id % 10 = 7")
    assert out["rows_deleted"] == 3
    assert out["files_with_dv"] == 3
    assert _parquet_files(t) == before  # merge-on-read: zero data writes
    ids = sorted(r.id for r in read_delta(spark, t).collect())
    assert ids == [i for i in range(30) if i % 10 != 7]


def test_dv_second_delete_merges_and_counts_only_new(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    delete_delta_dv(spark, t, "id % 10 = 7")  # deletes 7, 17, 27
    # %7==0 matches {0, 7, 14, 21, 28}; 7 is already deleted -> 4 new
    out = delete_delta_dv(spark, t, "id % 7 = 0")
    assert out["rows_deleted"] == 4
    ids = sorted(r.id for r in read_delta(spark, t).collect())
    want = [i for i in range(30) if i % 10 != 7 and i % 7 != 0]
    assert ids == want


def test_dv_time_travel_sees_pre_delete_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    out = delete_delta_dv(spark, t, "id < 5")
    assert read_delta(spark, t, version=2).count() == 30
    assert read_delta(spark, t, version=out["version"]).count() == 25
    hist = delta_history(t)
    assert hist[-1]["version"] == out["version"]


def test_dv_noop_when_nothing_matches(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    out = delete_delta_dv(spark, t, "id > 999")
    assert out["rows_deleted"] == 0 and out["files_with_dv"] == 0
    assert read_delta(spark, t).count() == 30


def _active_adds(t):
    from pyspark_anomaly_detection_spark.io.deltalite import _snapshot_state

    return _snapshot_state(t).adds


def test_cow_delete_on_dv_table(spark, tmp_path):
    """Round 14 (verdict r13 item 1): copy-on-write DELETE runs on a DV
    table — the rewrite reads touched files THROUGH their bitmaps (no
    resurrection), drops each touched file's DV in the same commit, and
    counts only LIVE matching rows."""
    from pyspark_anomaly_detection_spark.io.deltalite_dml import delete_delta

    t = str(tmp_path / "t")
    _build(spark, t)  # ids 0..29 in 3 files of 10
    delete_delta_dv(spark, t, "id % 10 = 7")  # every file gets a DV
    out = delete_delta(spark, t, "id % 3 = 0")
    # live matches: multiples of 3 minus the DV-deleted 27 → 9 rows
    assert out["rows_deleted"] == 9
    assert out["files_rewritten"] == 3  # every file has a live match
    ids = sorted(r.id for r in read_delta(spark, t).collect())
    assert ids == [i for i in range(30) if i % 10 != 7 and i % 3 != 0]
    # every rewrite materialized its bitmap: no DV survives
    assert not any(
        a.get("deletionVector") for a in _active_adds(t).values()
    )
    # a file with NO live match stays untouched and keeps its DV
    t2 = str(tmp_path / "t2")
    _build(spark, t2)
    delete_delta_dv(spark, t2, "id < 10")  # file 0 fully DV-deleted
    out2 = delete_delta(spark, t2, "id % 3 = 0")
    assert out2["files_rewritten"] == 2 and out2["rows_deleted"] == 6
    assert (
        sum(1 for a in _active_adds(t2).values() if a.get("deletionVector"))
        == 1
    )


def test_cow_update_on_dv_table(spark, tmp_path):
    from pyspark_anomaly_detection_spark.io.deltalite_dml import update_delta

    t = str(tmp_path / "t")
    _build(spark, t)
    delete_delta_dv(spark, t, "id % 10 = 7")  # 7, 17, 27 deleted
    out = update_delta(spark, t, "id % 5 = 0", {"v": "v + 1000"})
    assert out["rows_updated"] == 6  # 0,5,10,15,20,25 all live
    rows = {r.id: r.v for r in read_delta(spark, t).collect()}
    assert sorted(rows) == [i for i in range(30) if i % 10 != 7]
    for i, v in rows.items():
        assert v == i * 2 + (1000 if i % 5 == 0 else 0)
    # every touched file's DV dropped with the rewrite
    assert not any(
        a.get("deletionVector") for a in _active_adds(t).values()
    )


def test_merge_on_dv_table_deleted_rows_do_not_match(spark, tmp_path):
    """A DV-deleted key is NOT a matched row: MERGE re-inserts it via
    the not-matched branch, exactly as real Delta's merge-on-read
    semantics dictate."""
    from pyspark_anomaly_detection_spark.io.deltalite_dml import merge_delta

    t = str(tmp_path / "t")
    _build(spark, t)
    delete_delta_dv(spark, t, "id >= 20")  # file 2 fully DV-deleted
    src = spark.createDataFrame(
        [(5, 555), (25, 2525), (40, 4040)], "id long, v long"
    )
    out = merge_delta(spark, t, src, key="id")
    assert out["rows_matched"] == 1  # only 5 is live
    assert out["rows_inserted"] == 2  # 25 (DV-deleted) and 40
    rows = {r.id: r.v for r in read_delta(spark, t).collect()}
    assert sorted(rows) == list(range(20)) + [25, 40]
    assert rows[5] == 555 and rows[25] == 2525 and rows[40] == 4040
    assert rows[6] == 12  # untouched live row passes through


def test_optimize_on_dv_table_materializes_bitmaps(spark, tmp_path):
    """OPTIMIZE on a DV table compacts through the bitmaps: deleted
    rows vanish physically, no DV survives, dataChange stays false
    (logical content unchanged)."""
    from pyspark_anomaly_detection_spark.io.deltalite import optimize_delta

    t = str(tmp_path / "t")
    _build(spark, t)
    delete_delta_dv(spark, t, "id % 10 = 7")
    out = optimize_delta(spark, t)
    assert out["files_before"] == 3
    ids = sorted(r.id for r in read_delta(spark, t).collect())
    assert ids == [i for i in range(30) if i % 10 != 7]
    assert not any(
        a.get("deletionVector") for a in _active_adds(t).values()
    )


def test_annotate_stats_preserves_dv(spark, tmp_path):
    """Stats backfill on a DV table re-adds files WITH their bitmaps
    (physical min/max envelopes stay a superset of live rows, so
    skipping can only over-read)."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        annotate_stats,
        read_delta_pruned,
    )

    t = str(tmp_path / "t")
    _build(spark, t)
    delete_delta_dv(spark, t, "id % 10 = 7")
    v = annotate_stats(t, ["id"])
    assert v > 0
    adds = _active_adds(t)
    assert all("stats" in a for a in adds.values())
    assert sum(1 for a in adds.values() if a.get("deletionVector")) == 3
    df, meta = read_delta_pruned(spark, t, "id", 10, 19)
    assert meta["files_read"] == 1  # skipping still prunes
    assert sorted(r.id for r in df.collect()) == [
        i for i in range(10, 20) if i % 10 != 7
    ]


def test_dv_table_plain_stream_still_refuses(spark, tmp_path):
    """The plain (non-CDF, non-ignoreChanges) streaming source still
    refuses a DV commit at planning time via the non-append guard —
    retractions cannot stream as appends."""
    from pyspark_anomaly_detection_spark.io.deltalite_stream import (
        read_deltalite_stream,
    )

    t = str(tmp_path / "t")
    _build(spark, t)
    delete_delta_dv(spark, t, "id = 3")
    ckpt, sink = str(tmp_path / "ck"), str(tmp_path / "sink")
    q = (
        read_deltalite_stream(spark, t)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="removes data|deletion-vector"):
        q.awaitTermination()


def test_dv_append_after_delete_still_works(spark, tmp_path):
    """Blind appends commute with DV state: new files land DV-free and
    read normally alongside DV-subtracted older files."""
    t = str(tmp_path / "t")
    _build(spark, t)
    delete_delta_dv(spark, t, "id < 10")
    write_delta(
        spark.range(100, 105)
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
        .coalesce(1),
        t,
        mode="append",
    )
    ids = sorted(r.id for r in read_delta(spark, t).collect())
    assert ids == list(range(10, 30)) + list(range(100, 105))


def test_roaring_property_random_sets():
    """Hypothesis sweep: arbitrary uint64 sets round-trip the portable
    serialization exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        st.sets(
            st.integers(min_value=0, max_value=(1 << 64) - 1), max_size=500
        )
    )
    def check(vals):
        assert deserialize_roaring64(serialize_roaring64(vals)) == sorted(vals)

    check()


def test_dv_large_delete_exercises_bitmap_containers(spark, tmp_path):
    """A 200k-row delete puts >4096 positions in single 64k chunks —
    the BITMAP container path — and the reader must still subtract
    exactly."""
    t = str(tmp_path / "t")
    write_delta(
        spark.range(0, 200_000).select(F.col("id")).coalesce(2), t
    )
    out = delete_delta_dv(spark, t, "id % 2 = 0")
    assert out["rows_deleted"] == 100_000
    got = read_delta(spark, t)
    assert got.count() == 100_000
    assert got.filter("id % 2 = 0").count() == 0
    # descriptors stay metadata-sized: the log carries the bitmaps inline
    import json as _json

    log_dir = os.path.join(t, "_delta_log")
    last = sorted(os.listdir(log_dir))[-1]
    blob = open(os.path.join(log_dir, last)).read()
    assert len(blob) < 200_000  # ~25KB of bitmap vs 100k deleted rows


def test_dv_commit_conflicts_with_interleaved_append(spark, tmp_path):
    """A DV delete carries a protocol action + same-path remove/re-add,
    so an interleaved append aborts it (ConcurrentAppend) instead of
    silently rebasing over unseen data."""
    import pyspark_anomaly_detection_spark.io.deltalite as dl

    t = str(tmp_path / "t")
    _build(spark, t)
    real_list = dl._list_versions

    # freeze the version listing the DV writer sees, then land a real
    # append "concurrently"
    write_delta(
        spark.range(500, 510).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).coalesce(1),
        t,
        mode="append",
    )
    import unittest.mock as mock

    with mock.patch.object(
        dl, "_list_versions", lambda p: [v for v in real_list(p) if v <= 2]
    ):
        with pytest.raises(dl.DeltaliteConcurrentCommit):
            delete_delta_dv(spark, t, "id = 3")


def test_dv_checkpoint_round_trip(spark, tmp_path):
    """Round 10b: checkpoints carry DV descriptors and the table's real
    protocol — a DV table replays from its checkpoint losslessly even
    after the JSON log expires."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        _read_checkpoint,
        create_checkpoint,
        expire_log,
    )

    t = str(tmp_path / "t")
    _build(spark, t)
    delete_delta_dv(spark, t, "id % 10 = 7")
    v = create_checkpoint(t)
    actions = _read_checkpoint(t, v)
    protos = [a["protocol"] for a in actions if "protocol" in a]
    assert protos and protos[0]["minReaderVersion"] == 3
    assert protos[0]["readerFeatures"] == ["deletionVectors"]
    dvs = [
        a["add"]["deletionVector"]
        for a in actions
        if "add" in a and a["add"].get("deletionVector")
    ]
    assert len(dvs) == 3 and all(d["storageType"] == "i" for d in dvs)
    expire_log(t)
    ids = sorted(r.id for r in read_delta(spark, t).collect())
    assert ids == [i for i in range(30) if i % 10 != 7]


def test_cm_checkpoint_round_trip(spark, tmp_path):
    """Mapped tables checkpoint with their v2 protocol and mapped
    schemaString; replay after log expiry still reads logical names."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        create_checkpoint,
        expire_log,
    )
    from pyspark_anomaly_detection_spark.io.deltalite_cm import (
        write_delta_mapped,
    )

    t = str(tmp_path / "t")
    write_delta_mapped(
        spark.range(0, 6).select(F.col("id"), (F.col("id") * 2).alias("v")),
        t,
    )
    write_delta_mapped(
        spark.range(6, 9).select(F.col("id"), (F.col("id") * 2).alias("v")),
        t,
        mode="append",
    )
    create_checkpoint(t)
    expire_log(t)
    out = read_delta(spark, t)
    assert out.columns == ["id", "v"]
    assert out.count() == 9


def test_purge_materializes_dvs(spark, tmp_path):
    """REORG APPLY (PURGE): rewrites only DV files, drops the deleted
    rows physically, leaves the table DV-free (OPTIMIZE and COW DML
    work again), commits dataChange=false, keeps time travel."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        _snapshot_state,
        optimize_delta,
    )
    from pyspark_anomaly_detection_spark.io.deltalite_dv import purge_delta

    t = str(tmp_path / "t")
    _build(spark, t)
    dv_ver = delete_delta_dv(spark, t, "id % 10 = 7")["version"]
    out = purge_delta(spark, t)
    assert out["files_purged"] == 3
    snap = _snapshot_state(t)
    assert not any(a.get("deletionVector") for a in snap.adds.values())
    want = [i for i in range(30) if i % 10 != 7]
    assert sorted(r.id for r in read_delta(spark, t).collect()) == want
    # time travel: the DV version still subtracts, the pre-DV sees all
    assert read_delta(spark, t, version=dv_ver).count() == 27
    assert read_delta(spark, t, version=dv_ver - 1).count() == 30
    # DV-free again: previously-guarded ops work
    res = optimize_delta(spark, t)
    assert res["files_after"] >= 1
    # idempotent: a second purge is a no-op
    again = purge_delta(spark, t)
    assert again["files_purged"] == 0


def test_purge_is_stream_transparent(spark, tmp_path):
    """dataChange=false remove+add: a non-CDF stream replays the table
    across the purge without raising and without duplicating rows."""
    from pyspark_anomaly_detection_spark.io.deltalite_dv import purge_delta
    from pyspark_anomaly_detection_spark.io.deltalite_stream import (
        read_deltalite_stream,
    )

    t = str(tmp_path / "t")
    _build(spark, t)
    delete_delta_dv(spark, t, "id % 10 = 7")  # touches all three files
    purge_delta(spark, t)
    ckpt, sink = str(tmp_path / "ck"), str(tmp_path / "sink")
    q = (
        read_deltalite_stream(spark, t, ignore_changes=True)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = sorted(r.id for r in spark.read.parquet(sink).collect())
    # original appends deliver 0..29; the DV commit re-delivers each
    # touched file's LIVE rows (everything but 7/17/27 — Delta's
    # ignoreChanges re-delivery, no retraction); the purge's
    # dataChange=false files are transparent
    live = [i for i in range(30) if i % 10 != 7]
    assert ids == sorted(list(range(30)) + live)


def test_dv_protocol_upgrade_emitted_once(spark, tmp_path):
    """ADVICE r10: the deletionVectors protocol upgrade is a ONE-TIME
    commit action (like real Delta) — the second DV delete must not
    re-emit it."""
    import json

    t = str(tmp_path / "t")
    _build(spark, t)
    delete_delta_dv(spark, t, "id % 10 = 7")
    delete_delta_dv(spark, t, "id % 10 = 8")
    log_dir = os.path.join(t, "_delta_log")
    upgrades = 0
    for name in sorted(os.listdir(log_dir)):
        if not name.endswith(".json"):
            continue
        for line in open(os.path.join(log_dir, name)):
            a = json.loads(line)
            if "protocol" in a and a["protocol"].get("minReaderVersion") == 3:
                upgrades += 1
    assert upgrades == 1
    # both deletes still applied
    ids = sorted(r.id for r in read_delta(spark, t).collect())
    assert ids == [i for i in range(30) if i % 10 not in (7, 8)]


def test_blind_append_rebases_over_second_dv_delete(spark, tmp_path):
    """With the one-time upgrade, a blind append losing the race to a
    SECOND DV delete (no protocol action in its commit) rebases instead
    of raising a spurious protocol conflict."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        _commit_with_retry,
        _list_versions,
    )

    t = str(tmp_path / "t")
    _build(spark, t)
    delete_delta_dv(spark, t, "id = 1")   # one-time upgrade + DV
    stale_tip = _list_versions(t)[-1]
    delete_delta_dv(spark, t, "id = 2")   # DV only — no protocol action
    got = _commit_with_retry(
        t,
        stale_tip + 1,
        [
            {"add": {"path": "x.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
            {"commitInfo": {"operation": "WRITE", "engineInfo": "test"}},
        ],
    )
    assert got == stale_tip + 2


def test_norm_file_path_col_accepts_all_uri_renderings(spark):
    """ADVICE r10: the DV anti-join key must be scheme-independent —
    file:/abs, file://abs-ish, file:///abs and a plain path all
    normalize to the same absolute path."""
    from pyspark_anomaly_detection_spark.io.deltalite_dv import (
        _norm_file_path_col,
    )

    df = spark.createDataFrame(
        [("file:/tmp/a/b.parquet",),
         ("file:///tmp/a/b.parquet",),
         ("/tmp/a/b.parquet",)],
        "p string",
    ).select(_norm_file_path_col(F.col("p")).alias("n"))
    assert {r.n for r in df.collect()} == {"/tmp/a/b.parquet"}


# ------------- round 11: 'u' storage + row-level CDF from DV diffs


def test_dv_u_storage_round_trip(spark, tmp_path):
    """File-based ('u') descriptors: the bitmap lives in a spec-format
    deletion_vector_<uuid>.bin (version byte + size + data + CRC), the
    log carries only uuid + offset, and reads subtract identically to
    inline storage."""
    import json

    t = str(tmp_path / "t")
    _build(spark, t)
    before = _parquet_files(t)
    out = delete_delta_dv(spark, t, "id % 10 = 7", storage="u")
    assert out["rows_deleted"] == 3 and out["files_with_dv"] == 3
    assert _parquet_files(t) == before  # still no data-file writes
    bins = [n for n in os.listdir(t) if n.startswith("deletion_vector_")]
    assert len(bins) == 1 and bins[0].endswith(".bin")
    with open(os.path.join(t, bins[0]), "rb") as f:
        assert f.read(1) == b"\x01"  # format version byte
    # descriptors in the log are 'u' with offsets, no inline payload
    log_dir = os.path.join(t, "_delta_log")
    last = sorted(n for n in os.listdir(log_dir) if n.endswith(".json"))[-1]
    descs = [
        json.loads(line)["add"]["deletionVector"]
        for line in open(os.path.join(log_dir, last))
        if "deletionVector" in line and "add" in json.loads(line)
    ]
    assert len(descs) == 3
    assert all(d["storageType"] == "u" and "offset" in d for d in descs)
    assert len({d["pathOrInlineDv"] for d in descs}) == 1  # one shared file
    ids = sorted(r.id for r in read_delta(spark, t).collect())
    assert ids == [i for i in range(30) if i % 10 != 7]


def test_dv_u_and_i_storage_merge(spark, tmp_path):
    """A second delete with the OTHER storage type merges into existing
    DVs: 'i' then 'u' (and the old inline bitmap ORs into the new
    file-based one)."""
    t = str(tmp_path / "t")
    _build(spark, t)
    delete_delta_dv(spark, t, "id % 10 = 7", storage="i")
    out = delete_delta_dv(spark, t, "id % 7 = 0", storage="u")
    assert out["rows_deleted"] == 4  # 7 already deleted
    ids = sorted(r.id for r in read_delta(spark, t).collect())
    assert ids == [i for i in range(30) if i % 10 != 7 and i % 7 != 0]


def test_dv_u_checkpoint_and_purge(spark, tmp_path):
    """'u' descriptors survive checkpoint replay (offset field included)
    and purge materializes them like inline ones."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        create_checkpoint,
        expire_log,
    )
    from pyspark_anomaly_detection_spark.io.deltalite_dv import purge_delta

    t = str(tmp_path / "t")
    _build(spark, t)
    delete_delta_dv(spark, t, "id % 10 = 7", storage="u")
    create_checkpoint(t)
    expire_log(t)
    ids = sorted(r.id for r in read_delta(spark, t).collect())
    assert ids == [i for i in range(30) if i % 10 != 7]
    out = purge_delta(spark, t)
    assert out["files_purged"] == 3
    ids = sorted(r.id for r in read_delta(spark, t).collect())
    assert ids == [i for i in range(30) if i % 10 != 7]


@pytest.mark.parametrize("storage", ["i", "u"])
def test_batch_cdf_reports_dv_rowlevel_deletes(
    spark, tmp_path, storage, monkeypatch
):
    """read_delta_changes across a DV delete yields exactly the NEWLY
    deleted rows as _change_type='delete' — never a file-level
    delete+insert pair, and a second (merging) delete reports only its
    own increment.  Both sides of the DV threshold: the bitmap diff runs
    on the driver (JVM-only plan) below it and in the executor-side
    Python decode lane above it, with the same feed."""
    from pyspark_anomaly_detection_spark import plans
    from pyspark_anomaly_detection_spark.io import deltalite_dv
    from pyspark_anomaly_detection_spark.io.deltalite import (
        read_delta_changes,
    )

    t = str(tmp_path / "t")
    _build(spark, t)  # versions 0-2: ids 0..29
    delete_delta_dv(spark, t, "id % 10 = 7", storage=storage)  # v3
    delete_delta_dv(spark, t, "id % 7 = 0", storage=storage)   # v4
    for above_threshold in (False, True):
        if above_threshold:
            monkeypatch.setattr(deltalite_dv, "DV_BROADCAST_MAX_ROWS", 0)
        feed = read_delta_changes(spark, t, from_version=2)
        assert plans.has_python_eval(feed) is above_threshold
        by_version = {}
        for r in feed.collect():
            by_version.setdefault(
                (r._commit_version, r._change_type), []
            ).append(r.id)
        assert sorted(by_version[(3, "delete")]) == [7, 17, 27]
        # second delete: %7==0 minus already-deleted 7
        assert sorted(by_version[(4, "delete")]) == [0, 14, 21, 28]
        assert not any(ct == "insert" for _, ct in by_version)


@pytest.mark.parametrize("storage", ["i", "u"])
def test_stream_cdf_matches_batch_across_dv_delete(spark, tmp_path, storage):
    """q221-style isolation across a DV DELETE (verdict r10 item 3):
    drain the appends, land a mid-stream DV delete, drain again — the
    resumed stream must deliver exactly the rows the batch CDF reports
    as that commit's row-level deletes, with nothing redelivered."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        read_delta_changes,
    )
    from pyspark_anomaly_detection_spark.io.deltalite_stream import (
        read_deltalite_stream,
    )

    t = str(tmp_path / "t")
    _build(spark, t)
    ckpt, sink = str(tmp_path / "ck"), str(tmp_path / "sink")

    def drain():
        q = (
            read_deltalite_stream(spark, t, read_change_feed=True)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # versions 0-2
    delete_delta_dv(spark, t, "id % 10 = 7", storage=storage)  # v3
    drain()  # must deliver ONLY v3's row-level deletes
    got = spark.read.parquet(sink)
    v3 = got.filter("_commit_version = 3").collect()
    assert sorted(r.id for r in v3) == [7, 17, 27]
    assert all(r._change_type == "delete" for r in v3)
    # nothing from versions 0-2 redelivered
    assert got.filter("_commit_version < 3").count() == 30
    # and the stream agrees with the batch CDF for the same range
    batch = read_delta_changes(spark, t, from_version=2).collect()
    assert sorted(r.id for r in batch) == [7, 17, 27]
    assert all(
        r._change_type == "delete" and r._commit_version == 3 for r in batch
    )


def test_stream_restart_across_purge_does_not_redeliver(spark, tmp_path):
    """Verdict r10 item 7: REORG PURGE commits dataChange=false — a
    CDF stream drained before the purge and RESTARTED after it must
    deliver nothing new (the purge is layout maintenance, not a data
    change), and a subsequent real append streams normally."""
    from pyspark_anomaly_detection_spark.io.deltalite_dv import purge_delta
    from pyspark_anomaly_detection_spark.io.deltalite_stream import (
        read_deltalite_stream,
    )

    t = str(tmp_path / "t")
    _build(spark, t)
    delete_delta_dv(spark, t, "id % 10 = 7")
    ckpt, sink = str(tmp_path / "ck"), str(tmp_path / "sink")

    def drain():
        q = (
            read_deltalite_stream(spark, t, read_change_feed=True)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # appends + DV delete
    n_before = spark.read.parquet(sink).count()
    assert n_before == 33  # 30 inserts + 3 row-level deletes
    purge_delta(spark, t)  # dataChange=false remove+add
    drain()  # restart across the purge: nothing re-delivered
    assert spark.read.parquet(sink).count() == n_before
    write_delta(
        spark.range(100, 103)
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
        .coalesce(1),
        t,
        mode="append",
    )
    drain()  # the append after the purge streams normally
    got = spark.read.parquet(sink)
    assert got.count() == n_before + 3
    assert sorted(
        r.id for r in got.filter("_change_type = 'insert' and id >= 100").collect()
    ) == [100, 101, 102]


# ----------------- round 13: deletion vectors x partitioned tables


def _part_table(spark, t, n=12):
    df = spark.range(0, n).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("side"),
        (F.col("id") * 2).alias("v"),
    )
    write_delta(df, t, partition_by=["side"])


@pytest.mark.parametrize("storage", ["i", "u"])
def test_dv_delete_on_partitioned_table(spark, tmp_path, storage):
    """DV delete on a partitioned table (round 13 — was a fail-loud
    guard): no data files written, partition values intact on the
    rewritten adds, reads subtract per partition group, time travel
    sees pre-delete rows."""
    t = str(tmp_path / "t")
    _part_table(spark, t)
    data_files_before = sorted(
        os.path.join(r, n)
        for r, _d, ns in os.walk(t)
        for n in ns
        if n.endswith(".parquet") and "_delta_log" not in r
    )
    out = delete_delta_dv(spark, t, "id % 3 = 0", storage=storage)
    assert out["rows_deleted"] == 4  # ids 0,3,6,9
    data_files_after = sorted(
        os.path.join(r, n)
        for r, _d, ns in os.walk(t)
        for n in ns
        if n.endswith(".parquet") and "_delta_log" not in r
    )
    assert data_files_after == data_files_before  # merge-on-read
    rows = {r.id: (r.side, r.v) for r in read_delta(spark, t).collect()}
    assert set(rows) == {i for i in range(12) if i % 3 != 0}
    for i, (side, v) in rows.items():
        assert side == str(i % 2) and v == i * 2  # pv reinjected per group
    # time travel before the delete
    pre = read_delta(spark, t, version=0)
    assert pre.count() == 12
    # second delete merges bitmaps across the same files
    out2 = delete_delta_dv(spark, t, "id = 1", storage=storage)
    assert out2["rows_deleted"] == 1
    assert {r.id for r in read_delta(spark, t).collect()} == {
        i for i in range(12) if i % 3 != 0 and i != 1
    }


def test_dv_partitioned_predicate_guard(spark, tmp_path):
    t = str(tmp_path / "t")
    _part_table(spark, t)
    with pytest.raises(ValueError, match="partition column"):
        delete_delta_dv(spark, t, "side = '0'")


def test_dv_partitioned_cdf_carries_partition_values(spark, tmp_path):
    from pyspark_anomaly_detection_spark.io.deltalite import (
        read_delta_changes,
    )

    t = str(tmp_path / "t")
    _part_table(spark, t)
    v = delete_delta_dv(spark, t, "id % 4 = 1")["version"]  # ids 1,5,9
    changes = read_delta_changes(spark, t, from_version=v - 1, to_version=v)
    rows = [
        (r.id, r.side, r._change_type) for r in changes.collect()
    ]
    assert sorted(rows) == [
        (1, "1", "delete"), (5, "1", "delete"), (9, "1", "delete")
    ]


def test_dv_partitioned_purge(spark, tmp_path):
    from pyspark_anomaly_detection_spark.io.deltalite import (
        _snapshot_state,
        optimize_delta,
    )
    from pyspark_anomaly_detection_spark.io.deltalite_dv import purge_delta

    t = str(tmp_path / "t")
    _part_table(spark, t)
    delete_delta_dv(spark, t, "id % 3 = 0")
    out = purge_delta(spark, t)
    assert out["files_purged"] >= 1
    snap = _snapshot_state(t)
    assert not any(a.get("deletionVector") for a in snap.adds.values())
    # every add still carries its partition value
    assert all(
        (a.get("partitionValues") or {}).get("side") in ("0", "1")
        for a in snap.adds.values()
    )
    rows = {r.id: r.side for r in read_delta(spark, t).collect()}
    assert set(rows) == {i for i in range(12) if i % 3 != 0}
    assert all(rows[i] == str(i % 2) for i in rows)
    # DV-free again: COW operations re-enabled; the compaction keeps
    # every row's partition value (round 14 — per-group OPTIMIZE)
    optimize_delta(spark, t)
    rows = {r.id: r.side for r in read_delta(spark, t).collect()}
    assert set(rows) == {i for i in range(12) if i % 3 != 0}
    assert all(rows[i] == str(i % 2) for i in rows)


def _small_dv_table(spark, t):
    """ids 0..29 in three files with stats, DV-deleted twice — inline
    then file-based bitmaps merging into the same files."""
    from pyspark_anomaly_detection_spark.io.deltalite import annotate_stats

    _build(spark, t)
    annotate_stats(t, ["id"])
    delete_delta_dv(spark, t, "id % 10 = 7")
    delete_delta_dv(spark, t, "id % 7 = 0", storage="u")


def _dv_reads(spark, t):
    from pyspark_anomaly_detection_spark.io.deltalite import read_delta_pruned

    return {
        "snapshot": read_delta(spark, t),
        "pruned": read_delta_pruned(spark, t, "id", 5, 24)[0],
    }


def _ids(df):
    return sorted(r.id for r in df.collect())


_LIVE = [i for i in range(30) if i % 10 != 7 and i % 7 != 0]


def test_small_dv_reads_plan_without_python(spark, tmp_path):
    """Below DV_BROADCAST_MAX_ROWS the positions decode on the driver
    into a broadcast JVM local relation: neither the snapshot read nor
    the stats-pruned read of a DV table keeps a Python stage."""
    from pyspark_anomaly_detection_spark import plans

    t = str(tmp_path / "t")
    _small_dv_table(spark, t)
    reads = _dv_reads(spark, t)
    for name, df in reads.items():
        assert plans.has_python_eval(df) is False, (
            name,
            plans.formatted_plan(df),
        )
    assert _ids(reads["snapshot"]) == _LIVE
    assert _ids(reads["pruned"]) == [i for i in _LIVE if 5 <= i <= 24]


def test_large_dv_reads_keep_executor_decode(spark, tmp_path, monkeypatch):
    """Above DV_BROADCAST_MAX_ROWS (forced to 0 here — the 100 TB case
    no test table reaches) the reads keep the executor-side Python
    decode lane with an identical census, and a further DV DELETE
    anti-joins the existing positions through the same lane."""
    from pyspark_anomaly_detection_spark import plans
    from pyspark_anomaly_detection_spark.io import deltalite_dv

    t = str(tmp_path / "t")
    _small_dv_table(spark, t)
    small = {name: _ids(df) for name, df in _dv_reads(spark, t).items()}
    monkeypatch.setattr(deltalite_dv, "DV_BROADCAST_MAX_ROWS", 0)
    for name, df in _dv_reads(spark, t).items():
        assert plans.has_python_eval(df) is True, name
        assert _ids(df) == small[name]
    # %5==0 live ids: 5, 10, 15, 20, 25 (0 and 35 are gone / absent)
    out = delete_delta_dv(spark, t, "id % 5 = 0")
    assert out["rows_deleted"] == 5
    assert _ids(read_delta(spark, t)) == [i for i in _LIVE if i % 5 != 0]


# ------------- DV writer: driver and executor builds of the bitmaps


def test_dv_delete_keeps_the_old_add_fields(spark, tmp_path):
    """A DV re-add keeps every field of the add it replaces and changes
    only ``deletionVector`` and ``dataChange`` — its stats survive, so
    data skipping still prunes after the delete."""
    from pyspark_anomaly_detection_spark.io.deltalite import (
        annotate_stats,
        read_delta_pruned,
    )

    t = str(tmp_path / "t")
    _build(spark, t)
    annotate_stats(t, ["id"])
    before = _active_adds(t)
    delete_delta_dv(spark, t, "id % 10 = 7")
    after = _active_adds(t)

    def kept(a):
        return {
            k: v
            for k, v in a.items()
            if k not in ("deletionVector", "dataChange")
        }

    assert sorted(after) == sorted(before)
    assert all(kept(after[rel]) == kept(before[rel]) for rel in after)
    df, meta = read_delta_pruned(spark, t, "id", 10, 19)
    assert meta == {"files_total": 3, "files_read": 1}
    assert _ids(df) == [i for i in range(10, 20) if i != 17]


def test_live_rows_bound_needs_num_records_on_every_add():
    from pyspark_anomaly_detection_spark.io.deltalite_dv import (
        _live_rows_bound,
    )

    adds = {
        "a": {
            "stats": '{"numRecords":10}',
            "deletionVector": {"cardinality": 4},
        },
        "b": {"stats": '{"numRecords":7,"minValues":{}}'},
    }
    assert _live_rows_bound(adds) == 13
    assert _live_rows_bound({**adds, "c": {}}) is None


def _dv_table(spark, t, shape):
    """ids 0..29 with v = 2*id: three plain appends, a partitioned
    write, or three column-mapped appends."""
    from pyspark_anomaly_detection_spark.io.deltalite_cm import (
        write_delta_mapped,
    )

    if shape == "plain":
        _build(spark, t)
    elif shape == "partitioned":
        _part_table(spark, t, n=30)
    else:
        for i in range(3):
            write_delta_mapped(
                spark.range(i * 10, (i + 1) * 10)
                .select(F.col("id"), (F.col("id") * 2).alias("v"))
                .coalesce(1),
                t,
                mode="append",
            )


@pytest.mark.parametrize("shape", ["plain", "partitioned", "mapped"])
def test_dv_delete_driver_and_executor_builds_agree(
    spark, tmp_path, shape, monkeypatch
):
    """Two copies of one table take the same two DV DELETEs — inline
    bitmaps, then file-based ones merging the old bitmaps — one with the
    bitmaps built on the driver, one on the executors
    (``DV_BROADCAST_MAX_ROWS`` forced to 0).  Descriptors, bitmap bytes,
    counters and table contents are identical."""
    import shutil

    from pyspark_anomaly_detection_spark.io import deltalite_dv

    src = str(tmp_path / "src")
    _dv_table(spark, src, shape)
    tables = {side: str(tmp_path / side) for side in ("driver", "executor")}
    executor_builds = []
    real = deltalite_dv._bitmaps_on_executors

    def counted(*args):
        executor_builds.append(args[0])
        return real(*args)

    monkeypatch.setattr(deltalite_dv, "_bitmaps_on_executors", counted)
    seen = {}
    for side, t in tables.items():
        shutil.copytree(src, t)
        if side == "executor":
            monkeypatch.setattr(deltalite_dv, "DV_BROADCAST_MAX_ROWS", 0)
        seen[side] = []
        for pred, storage in (("id % 10 = 7", "i"), ("id % 7 = 0", "u")):
            out = delete_delta_dv(spark, t, pred, storage=storage)
            descs = {
                rel: (
                    {**a["deletionVector"], "pathOrInlineDv": None}
                    if a["deletionVector"]["storageType"] == "u"
                    else a["deletionVector"],
                    deltalite_dv._descriptor_bitmap(a["deletionVector"], t),
                )
                for rel, a in _active_adds(t).items()
                if a.get("deletionVector")
            }
            seen[side].append((out, descs))
        seen[side].append(
            sorted(tuple(r) for r in read_delta(spark, t).collect())
        )
    assert len(executor_builds) == 2  # the executor copy's two deletes
    assert seen["driver"] == seen["executor"]
    (first, _), (second, descs), rows = seen["driver"]
    assert (first["rows_deleted"], second["rows_deleted"]) == (3, 4)
    assert "u" in {d["storageType"] for d, _ in descs.values()}
    assert sorted(r[0] for r in rows) == [
        i for i in range(30) if i % 10 != 7 and i % 7 != 0
    ]


def test_small_dv_delete_plans_no_python_stage(spark, tmp_path, monkeypatch):
    """Under the bound a DV DELETE builds its bitmaps from one Arrow
    collect of a JVM-only plan, never the executor build, and runs no
    more Spark jobs than the executor build did (2 for a first delete,
    3 for one merging old bitmaps, on this shape)."""
    from pyspark_anomaly_detection_spark import plans
    from pyspark_anomaly_detection_spark.io import deltalite_dv

    t = str(tmp_path / "t")
    _build(spark, t)
    frame_cls = type(spark.range(1))
    collected = []
    real_collect = frame_cls._collect_as_arrow

    def spy(self, *args, **kwargs):
        collected.append(self)
        return real_collect(self, *args, **kwargs)

    def refuse(*_args):
        raise AssertionError("executor build under the bound")

    monkeypatch.setattr(frame_cls, "_collect_as_arrow", spy)
    monkeypatch.setattr(deltalite_dv, "_bitmaps_on_executors", refuse)
    sc = spark.sparkContext
    jobs = []
    for i, pred in enumerate(("id % 10 = 7", "id % 7 = 0")):
        group = f"dv-delete-jobs-{i}"
        sc.setJobGroup(group, group)
        try:
            delete_delta_dv(spark, t, pred)
        finally:
            sc.setJobGroup("", "")
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert len(collected) == 2
    for df in collected:
        assert plans.has_python_eval(df) is False, plans.formatted_plan(df)
    assert 0 < jobs[0] <= 2 and 0 < jobs[1] <= 3, jobs
    assert _ids(read_delta(spark, t)) == _LIVE
