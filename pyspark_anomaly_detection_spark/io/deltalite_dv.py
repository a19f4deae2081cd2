"""Deletion vectors for deltalite — merge-on-read DELETE.

Copy-on-write DELETE (io/deltalite_dml.py) rewrites every touched file;
at 100 TB a selective delete touching many files pays a full rewrite of
each.  Delta's DELETION VECTORS (protocol reader v3, feature
``deletionVectors``) instead attach a bitmap of deleted ROW INDICES to
the untouched data file: the commit re-adds the same path with a
``deletionVector`` descriptor, writes no data, and readers subtract the
bitmap — deletes become metadata-sized, reads pay one anti-join.

Implementation against the public protocol (PROTOCOL.md "Deletion
Vectors"; bitmap format in io/roaring.py — the portable 64-bit Roaring
serialization):

* descriptors use INLINE storage (``storageType 'i'``, the default):
  the serialized bitmap, Z85-encoded, lives in the log itself.
  ``sizeInBytes`` is the un-encoded byte length (Z85 pads to 4-byte
  groups), ``cardinality`` the deleted-row count.  FILE-BASED storage
  (``'u'``, ``storage='u'``) writes one spec-format DV file per commit
  (1-byte version, then per-DV ``<int32 size><bitmap><int32 CRC-32>``),
  and descriptors carry the z85-encoded uuid + byte offset — the scale
  path that keeps a huge delete's bitmaps out of the JSON log.
  Byte-compat with real Delta is untestable in this sandbox (no jars —
  COVERAGE.md S6); the formats follow the published spec and
  round-trip through this module.
* row indices come from the JVM scan's ``_metadata.row_index`` — the
  parquet row position Delta defines DV indices over.
* one writer, :func:`dv_rewrite_actions`, turns a frame of positions
  into remove/add actions.  It builds the bitmaps on the DRIVER when
  the adds' ``stats.numRecords`` minus their DV cardinalities prove at
  most ``DV_BROADCAST_MAX_ROWS`` live rows (one JVM aggregate of
  per-file position lists, collected as Arrow, then numpy: no Python
  stage in the plan), and EXECUTOR-side otherwise (one
  ``applyInPandas`` group per touched file — driver state stays one
  descriptor per FILE).  Reads decode on the DRIVER up to
  ``DV_BROADCAST_MAX_ROWS`` deleted rows (a broadcast JVM local
  relation) and EXECUTOR-side above it (bounded driver memory at
  100 TB).  Both sides encode and decode through io/roaring.py's numpy
  codec, so the descriptors are byte-identical either way.
* re-deleting merges: a file's existing DV ORs into the new one, and
  already-deleted rows never re-count in ``rows_deleted``.

Scale shape: the delete scans once (predicate pushed to the parquet
scan), shuffles matched ``(file, row_index)`` pairs only, and commits
O(touched files) log bytes.  DV-aware reads anti-join against the
decoded positions — broadcast when total cardinality is small (known
from the descriptors without decoding), shuffle otherwise.

Where data files are touched: :func:`read_files_minus_dv` is the one
DV-aware file reader, and deltalite's ``_read_files`` calls it for
every DV-carrying add (snapshot reads, COW DML scans, OPTIMIZE).  The
delete scan reads live rows with their (file, row index) positions
through ``_read_files`` too, and each file is named the one way
:func:`_file_uri` names an add.  A DV delete writes no data file;
:func:`purge_delta` is OPTIMIZE's group rewrite (``deltalite._compact``)
over only the DV-carrying files, so its files are staged and harvested
by deltalite's ``_stage``.
"""

from __future__ import annotations

import json
import os
import struct
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_anomaly_detection_spark.io import deltalite
from pyspark_anomaly_detection_spark.io.roaring import (
    deserialize_roaring64,
    deserialize_roaring64_array,
    serialize_roaring64_array,
)

#: Decode on the driver and broadcast the anti-join side when the
#: descriptors' summed cardinality is at most this (the positions frame
#: is ~16 bytes/row plus the file path); shuffle otherwise.
DV_BROADCAST_MAX_ROWS = 5_000_000

_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}
_Z85_ARRAY = np.frombuffer(_Z85_CHARS.encode("ascii"), np.uint8)


def z85_encode(data: bytes) -> str:
    """ZeroMQ Z85 over zero-padded 4-byte groups (the pre-padding
    length travels separately as the descriptor's ``sizeInBytes``)."""
    data = data + b"\x00" * ((-len(data)) % 4)
    vals = np.frombuffer(data, ">u4").astype(np.int64)
    # five base-85 digits per group, most significant first
    digits = vals[:, None] // 85 ** np.arange(4, -1, -1) % 85
    return _Z85_ARRAY[digits].tobytes().decode("ascii")


def z85_decode(text: str, size: int | None = None) -> bytes:
    if len(text) % 5:
        raise ValueError("z85: length must be a multiple of 5")
    out = bytearray()
    for i in range(0, len(text), 5):
        val = 0
        for c in text[i : i + 5]:
            val = val * 85 + _Z85_INDEX[c]
        out += struct.pack(">I", val)
    return bytes(out[:size] if size is not None else out)


def _file_uri(table_path: str, rel: str) -> str:
    """Canonical name of a data file: the plain absolute path (an
    absolute add path, as a shallow clone commits, stays as it is).
    ``_metadata.file_path`` columns are normalized to the same form via
    :func:`_norm_file_path_col` — scheme-independent, so a Spark version
    rendering ``file:/``, ``file://`` or ``file:///`` all match; a join
    on a hand-built ``file:`` rendering would silently match nothing if
    the rendering drifted, resurrecting DV-deleted rows."""
    return os.path.abspath(os.path.join(table_path, rel))


def _norm_file_path_col(col):
    """``_metadata.file_path`` → plain absolute path: strip any
    ``file:``/``file://``/``file:///`` prefix down to a single ``/``,
    then percent-DECODE URI escapes — hive partition directories with
    special characters (``o_orderpriority=4-NOT SPECIFIED`` → ``%20``)
    arrive URI-encoded from the scan but live decoded on disk and in
    the log's add paths.
    Literal ``+`` is protected first: it is a legal path byte that
    ``url_decode``'s form semantics would turn into a space."""
    stripped = F.regexp_replace(col, r"^file:/*", "/")
    return F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))


def _dv_file_path(table_path: str, path_or_inline: str) -> str:
    """'u'-storage descriptor → absolute DV file path, per the published
    spec: ``pathOrInlineDv`` is ``<random prefix><z85-encoded uuid>``
    (the final 20 chars encode the 16 uuid bytes; anything before them
    is a directory prefix), naming
    ``<table>/<prefix>/deletion_vector_<uuid>.bin``."""
    import uuid as _uuid

    prefix, enc = path_or_inline[:-20], path_or_inline[-20:]
    u = _uuid.UUID(bytes=z85_decode(enc, 16))
    return os.path.join(
        table_path, *([prefix] if prefix else []), f"deletion_vector_{u}.bin"
    )


def write_dv_file(
    table_path: str, blobs: list[bytes]
) -> list[dict[str, Any]]:
    """Write ONE on-disk deletion-vector file holding all of a commit's
    bitmaps, in the spec's storage format: a 1-byte format version (1),
    then per DV ``<int32 BE size><bitmap bytes><int32 BE CRC-32>``;
    descriptors carry the byte OFFSET of their entry.  Returns one 'u'
    descriptor dict per blob (cardinality left to the caller)."""
    import uuid as _uuid
    import zlib

    dv_uuid = _uuid.uuid4()
    enc = z85_encode(dv_uuid.bytes)  # 16 bytes → exactly 20 chars
    full = os.path.join(table_path, f"deletion_vector_{dv_uuid}.bin")
    descs: list[dict[str, Any]] = []
    with open(full, "wb") as f:
        f.write(b"\x01")
        for blob in blobs:
            offset = f.tell()
            f.write(struct.pack(">i", len(blob)))
            f.write(blob)
            f.write(struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF))
            descs.append(
                {
                    "storageType": "u",
                    "pathOrInlineDv": enc,
                    "offset": offset,
                    "sizeInBytes": len(blob),
                }
            )
    return descs


def _descriptor_bitmap(
    dv: dict[str, Any], table_path: "str | None" = None
) -> bytes:
    """Serialized bitmap of a descriptor — inline ('i': Z85 bitmap in
    the log) or file-based ('u': seek into the spec-format DV file,
    CRC-verified).  ``table_path`` is required for 'u'."""
    st = dv.get("storageType")
    if st == "i":
        return z85_decode(dv["pathOrInlineDv"], dv.get("sizeInBytes"))
    if st in ("u", "p"):
        import zlib

        if st == "p":
            # absolute-path storage (spec 'p'): pathOrInlineDv IS the
            # DV file's absolute path — shallow CLONEs of 'u'-DV
            # tables emit these so the clone's descriptors keep
            # resolving against the SOURCE table's DV file (round 13)
            full = dv["pathOrInlineDv"]
        else:
            if table_path is None:
                raise ValueError(
                    "deltalite DV: decoding a 'u' descriptor needs "
                    "table_path"
                )
            full = _dv_file_path(table_path, dv["pathOrInlineDv"])
        with open(full, "rb") as f:
            f.seek(int(dv.get("offset", 1)))
            (size,) = struct.unpack(">i", f.read(4))
            data = f.read(size)
            (crc,) = struct.unpack(">I", f.read(4))
        if zlib.crc32(data) & 0xFFFFFFFF != crc:
            raise ValueError(
                f"deltalite DV: checksum mismatch in {full} at offset "
                f"{dv.get('offset')}"
            )
        return data
    raise NotImplementedError(
        f"deltalite DV: storageType {st!r} not supported"
    )


def _decode_descriptor(
    dv: dict[str, Any], table_path: "str | None" = None
) -> list[int]:
    """Deleted row indices of a descriptor ('i', 'u' or 'p' storage)."""
    return deserialize_roaring64(_descriptor_bitmap(dv, table_path))


def _decode_diff(
    new: dict[str, Any], old: "dict[str, Any] | None", table_path: str
):
    """Sorted int64 array of ``decode(new) - decode(old)`` (all of
    ``new`` when ``old`` is None) — no Python int per position."""

    def decode(dv):
        bitmap = _descriptor_bitmap(dv, table_path)
        return deserialize_roaring64_array(bitmap).astype(np.int64)

    pos = decode(new)
    return np.setdiff1d(pos, decode(old), assume_unique=True) if old else pos


def _positions_df(
    spark: SparkSession,
    table_path: str,
    items: "list[tuple[str, dict[str, Any], dict[str, Any] | None]]",
) -> DataFrame:
    """(_dv_f, _dv_i) positions ``decode(new) - decode(old)`` of every
    ``(file_uri, new_desc, old_desc_or_None)`` item — the build side of
    the (file, row_index) joins.  Up to ``DV_BROADCAST_MAX_ROWS`` summed
    ``cardinality`` (known without decoding) they decode on the DRIVER
    into a broadcast Arrow-backed JVM ``LocalTableScan`` (bound for a
    broadcast anyway; no Python worker round trip); above it they decode
    EXECUTOR-side in ``mapInPandas`` and the join shuffles, so driver
    memory stays bounded however large the deletion vectors grow."""
    from pyspark_anomaly_detection_spark.io.detach import (
        local_arrow_df,
        local_rows_df,
    )

    total_card = sum(int(new.get("cardinality") or 0) for _, new, _ in items)
    if total_card <= DV_BROADCAST_MAX_ROWS:
        import pyarrow as pa

        chunks = [_decode_diff(new, old, table_path) for _, new, old in items]
        file_idx = np.repeat(np.arange(len(items)), [len(c) for c in chunks])
        files = pa.array([f for f, _, _ in items], pa.string()).take(file_idx)
        pos = local_arrow_df(
            spark, [files, np.concatenate(chunks)], "_dv_f string, _dv_i long"
        )
        return F.broadcast(pos)

    src = local_rows_df(
        spark,
        [
            (f, json.dumps(new), json.dumps(old) if old else None)
            for f, new, old in items
        ],
        "_dv_f string, _new string, _old string",
    )

    def gen(batches):
        import json as _json

        import pandas as pd

        for pdf in batches:
            for f, n, o in zip(pdf["_dv_f"], pdf["_new"], pdf["_old"]):
                old = _json.loads(o) if isinstance(o, str) else None
                pos = _decode_diff(_json.loads(n), old, table_path)
                yield pd.DataFrame({"_dv_f": f, "_dv_i": pos})

    return src.mapInPandas(gen, "_dv_f string, _dv_i long")


def dv_positions_df(
    spark: SparkSession, table_path: str, dv_adds: dict[str, dict[str, Any]]
) -> DataFrame:
    """(_dv_f, _dv_i) deleted positions of every DV-carrying add, ready
    to anti-join — driver-decoded and broadcast up to the DV threshold,
    executor-decoded above it (see :func:`_positions_df`)."""
    return _positions_df(
        spark,
        table_path,
        [
            (_file_uri(table_path, rel), a["deletionVector"], None)
            for rel, a in sorted(dv_adds.items())
        ],
    )


def _scan_with_positions(
    spark: SparkSession,
    table_path: str,
    rels,
    schema,
    file_col: "str | None" = "_dv_f",
    pos_col: "str | None" = "_dv_i",
) -> DataFrame:
    """Data files ``rels`` read with ``schema``, each row's normalized
    file path and parquet row index appended as ``file_col`` and
    ``pos_col`` (either may be None) — the probe side of the position
    joins."""
    df = spark.read.schema(schema).parquet(
        *[os.path.join(table_path, rel) for rel in rels]
    )
    meta = [
        col.alias(name)
        for name, col in (
            (file_col, _norm_file_path_col(F.col("_metadata.file_path"))),
            (pos_col, F.col("_metadata.row_index")),
        )
        if name
    ]
    return df.select("*", *meta) if meta else df


def read_files_minus_dv(
    spark: SparkSession,
    table_path: str,
    dv_adds: dict[str, dict[str, Any]],
    schema,
    file_col: "str | None" = None,
    pos_col: "str | None" = None,
) -> DataFrame:
    """Read DV-carrying data files with their deleted rows subtracted
    (anti-join on (file, row_index)).  ``file_col`` and ``pos_col`` keep
    each live row's normalized absolute file path and row index as
    trailing columns."""
    df = _scan_with_positions(spark, table_path, sorted(dv_adds), schema)
    pos = dv_positions_df(spark, table_path, dv_adds)
    # A key-list join MOVES the join keys to the FRONT of the output
    # ([_dv_f, _dv_i, data...]); restore the data-column order so this
    # frame has the same column order as a plain-file read.
    data_cols = [c for c in df.columns if c not in ("_dv_f", "_dv_i")]
    meta = [
        F.col(src).alias(name)
        for src, name in (("_dv_f", file_col), ("_dv_i", pos_col))
        if name
    ]
    return df.join(pos, ["_dv_f", "_dv_i"], "left_anti").select(
        *data_cols, *meta
    )


def dv_protocol_action(proto: "dict[str, Any] | None") -> dict[str, Any]:
    """Protocol action announcing the deletionVectors table feature
    (reader v3 / writer v7 — the table-features protocol), MERGED with
    the table's existing protocol (round 14): per the spec, a v7
    upgrade must list every feature the prior legacy version implied
    (``_LEGACY_WRITER_FEATURES`` — so a reader-v2 mapped table keeps
    ``columnMapping`` in BOTH feature lists, a writer-v6 identity table
    keeps ``identityColumns``, …), and deltalite stamps in-commit
    timestamps into every commit so ``inCommitTimestamp`` rides along
    (writer-only — it never appears in readerFeatures)."""
    proto = proto or {"minReaderVersion": 1, "minWriterVersion": 2}
    reader_feats = set(proto.get("readerFeatures") or [])
    if proto.get("minReaderVersion", 1) == 2:
        reader_feats.add("columnMapping")  # legacy reader v2 == CM
    reader_feats.add("deletionVectors")
    writer_feats = deltalite._folded_writer_features(proto)
    writer_feats.update({"deletionVectors", "inCommitTimestamp"})
    return {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(reader_feats),
            "writerFeatures": sorted(writer_feats),
        }
    }


def _live_rows_bound(adds: dict[str, dict[str, Any]]) -> "int | None":
    """Most live rows the adds can hold — Σ ``stats.numRecords`` minus
    Σ DV ``cardinality`` — or None when an add has no ``numRecords``."""
    total = 0
    for a in adds.values():
        n = json.loads(a.get("stats") or "{}").get("numRecords")
        if n is None:
            return None
        dv = a.get("deletionVector") or {}
        total += int(n) - int(dv.get("cardinality") or 0)
    return total


def _merged_bitmap(
    pos, old: "dict[str, Any] | None", table_path: str
) -> tuple[bytes, int, int]:
    """``(bitmap, cardinality, newly deleted)`` of new positions ``pos``
    ORed with the file's old descriptor ``old`` (None: no DV yet)."""
    pos = np.unique(np.asarray(pos, dtype=np.uint64))
    n_old = 0
    if old is not None:
        prior = deserialize_roaring64_array(
            _descriptor_bitmap(old, table_path)
        )
        n_old = len(prior)
        pos = np.union1d(pos, prior)
    return serialize_roaring64_array(pos), len(pos), len(pos) - n_old


def _bitmaps_on_driver(
    matched: DataFrame, old_by_uri: dict[str, dict[str, Any]], table_path: str
) -> list[tuple[str, bytes, int, int]]:
    """One JVM aggregate — each touched file's positions as a sorted
    list — collected as Arrow (8 bytes per position), then every bitmap
    merged and encoded here: no Python worker."""
    import pyarrow as pa

    lists = matched.groupBy("_dv_f").agg(
        F.sort_array(F.collect_list("_dv_i")).alias("_dv_i")
    )
    batches = lists._collect_as_arrow()
    if not batches:
        return []
    table = pa.Table.from_batches(batches)
    files = table.column("_dv_f").to_pylist()
    pos = table.column("_dv_i").combine_chunks()
    offsets = pos.offsets.to_numpy()
    values = pos.values.to_numpy()
    return [
        (
            uri,
            *_merged_bitmap(
                values[offsets[i] : offsets[i + 1]],
                old_by_uri.get(uri),
                table_path,
            ),
        )
        for i, uri in enumerate(files)
    ]


def _bitmaps_on_executors(
    matched: DataFrame, old_by_uri: dict[str, dict[str, Any]], table_path: str
) -> list[tuple[str, bytes, int, int]]:
    """One ``applyInPandas`` group per touched file builds its bitmap
    executor-side; the driver receives one row per file."""

    def build(pdf):
        import pandas as pd

        uri = pdf["_dv_f"].iloc[0]
        blob, card, n_new = _merged_bitmap(
            pdf["_dv_i"].to_numpy(), old_by_uri.get(uri), table_path
        )
        return pd.DataFrame(
            {"_dv_f": [uri], "blob": [blob], "card": [card], "n_new": [n_new]}
        )

    rows = (
        matched.groupBy("_dv_f")
        .applyInPandas(
            build, "_dv_f string, blob binary, card long, n_new long"
        )
        .collect()
    )
    return [(r._dv_f, bytes(r.blob), r.card, r.n_new) for r in rows]


def dv_rewrite_actions(
    table_path: str,
    adds: dict[str, dict[str, Any]],
    matched: DataFrame,
    storage: str = "i",
) -> tuple[list[dict[str, Any]], int]:
    """Positions frame → DV actions: ``matched`` holds the ``(_dv_f,
    _dv_i)`` positions of live rows of ``adds`` to delete; returns the
    ``remove``/``add`` pair of every touched file (its old bitmap ORed
    in; the re-add keeps every field of the old add but
    ``deletionVector`` and ``dataChange``) and the newly deleted row
    count.  When the adds' ``numRecords`` prove the live rows fit in
    ``DV_BROADCAST_MAX_ROWS`` the bitmaps build on the driver, otherwise
    (or without ``numRecords``) on the executors."""
    old_by_uri = {
        _file_uri(table_path, rel): a["deletionVector"]
        for rel, a in adds.items()
        if a.get("deletionVector")
    }
    bound = _live_rows_bound(adds)
    build = (
        _bitmaps_on_driver
        if bound is not None and bound <= DV_BROADCAST_MAX_ROWS
        else _bitmaps_on_executors
    )
    built = sorted(build(matched, old_by_uri, table_path))
    if storage == "u" and built:
        descs = write_dv_file(table_path, [blob for _, blob, _, _ in built])
    else:
        descs = [
            {
                "storageType": "i",
                "pathOrInlineDv": z85_encode(blob),
                "sizeInBytes": len(blob),
            }
            for _, blob, _, _ in built
        ]
    uri_to_rel = {_file_uri(table_path, rel): rel for rel in adds}
    actions: list[dict[str, Any]] = []
    for (uri, _blob, card, _n), desc in zip(built, descs):
        rel = uri_to_rel[uri]
        desc["cardinality"] = int(card)
        actions.append({"remove": {"path": rel, "dataChange": True}})
        actions.append(
            {
                "add": {
                    **adds[rel],
                    "dataChange": True,
                    "deletionVector": desc,
                }
            }
        )
    return actions, int(sum(n for *_, n in built))


def delete_delta_dv(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    storage: str = "i",
) -> dict[str, int]:
    """Merge-on-read DELETE: attach/extend a deletion vector on every
    file containing live rows matching ``predicate`` — no data files
    are written.  ``storage='i'`` inlines the Z85 bitmap in the log;
    ``storage='u'`` writes ONE spec-format DV file for the commit and
    the descriptors reference it by uuid + offset (the scale path: a
    huge delete's bitmaps stay out of the JSON log).  Returns
    {'version', 'files_with_dv', 'rows_deleted'} where rows_deleted
    counts NEWLY deleted rows only."""
    if storage not in ("i", "u"):
        raise ValueError(f"deltalite DV storage must be 'i'|'u': {storage}")
    snap = deltalite._snapshot_state(table_path)
    if snap.part_cols:
        # partitioned tables are supported: the scan below reads DATA
        # files (no partition columns in them), bitmaps are
        # per-file regardless of layout, and the rewritten add actions
        # carry the old add's partitionValues — only predicates naming
        # a partition column must refuse (they live in the log)
        from pyspark_anomaly_detection_spark.io.deltalite_dml import (
            _guard_partition_columns,
        )

        _guard_partition_columns(predicate, snap.part_cols)
    adds = snap.adds
    if not adds:
        return {"version": snap.version, "files_with_dv": 0, "rows_deleted": 0}

    # live rows with their (file, row index) positions, in logical names
    # so the caller's predicate binds on column-mapped tables too
    matched = (
        deltalite._read_files(
            spark, table_path, adds, snap, file_col="_dv_f", pos_col="_dv_i"
        )
        .filter(F.expr(predicate))
        .select("_dv_f", "_dv_i")
    )
    dv_actions, rows_deleted = dv_rewrite_actions(
        table_path, adds, matched, storage
    )
    if not dv_actions:
        return {"version": snap.version, "files_with_dv": 0, "rows_deleted": 0}

    # one-time protocol upgrade, like real Delta: emit the protocol
    # action only when the table isn't DV-enabled yet — re-emitting it
    # on every delete would make _commit_with_retry treat a concurrent
    # blind append as a protocol conflict
    dv_enabled = "deletionVectors" in (
        (snap.protocol or {}).get("readerFeatures") or []
    )
    actions: list[dict[str, Any]] = (
        [] if dv_enabled else [dv_protocol_action(snap.protocol)]
    )
    actions += dv_actions
    actions.append(
        {"commitInfo": {"operation": "DELETE", "engineInfo": "deltalite-dv"}}
    )
    version = deltalite._commit_with_retry(
        table_path, snap.version + 1, actions
    )
    return {
        "version": version,
        "files_with_dv": len(dv_actions) // 2,
        "rows_deleted": rows_deleted,
    }


def purge_delta(spark: SparkSession, table_path: str) -> dict[str, int]:
    """``REORG TABLE ... APPLY (PURGE)``: materialize the deletion
    vectors — OPTIMIZE's group rewrite run over ONLY the DV-carrying
    files, so their deleted rows drop physically; the commit is
    remove+add with ``dataChange: false`` (the LOGICAL content is
    unchanged, so streams treat the reorg as transparently as an
    OPTIMIZE) and leaves the table DV-free.  Old files stay on disk for
    time travel until a VACUUM."""
    snap = deltalite._snapshot_state(table_path)
    dv_adds = {
        r: a for r, a in snap.adds.items() if a.get("deletionVector")
    }
    if not dv_adds:
        return {
            "version": snap.version,
            "files_purged": 0,
            "files_added": 0,
        }
    version, n_added = deltalite._compact(
        spark, table_path, snap, dv_adds, "REORG PURGE", "deltalite-dv"
    )
    return {
        "version": version,
        "files_purged": len(dv_adds),
        "files_added": n_added,
    }


from pyspark_anomaly_detection_spark.registry import register  # noqa: E402


@register(
    "q224_deltalite_dv_census",
    # Same detached-Arrow return shape as q213/q220 (JVM-only plan on
    # the returned frame).  The oracle applies the delete predicates
    # directly to orders: a green hash proves the DV bitmaps deleted
    # exactly the right ROW POSITIONS across two merging DV commits,
    # and that the reader's anti-join subtracts them losslessly.
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 3
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q224_deltalite_dv_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE lifecycle: orders lands in three append
    commits, TWO successive deletion-vector deletes (every 7th key,
    then every key ≡ 3 mod 11 — the second merges into files that
    already carry DVs) attach bitmaps WITHOUT writing a single data
    file, a REORG PURGE materializes the bitmaps (dataChange=false
    rewrite of only the DV files — round 11, verdict item 7), and the
    final snapshot censuses per priority; the census is identical
    before and after the purge by construction, so the oracle pins
    both the DV-subtracting reader AND the purge's losslessness."""
    import shutil
    import tempfile

    from pyspark_anomaly_detection_spark.io.detach import detach_local
    from pyspark_anomaly_detection_spark.io.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="deltalite_dv_")
    table = os.path.join(base, "orders_t")
    try:
        for third in (0, 1, 2):
            deltalite.write_delta(
                orders.filter(F.col("o_orderkey") % 3 == third),
                table,
                mode="append",
            )
        delete_delta_dv(spark, table, "o_orderkey % 7 = 0")
        delete_delta_dv(spark, table, "o_orderkey % 11 = 3")
        purge_delta(spark, table)
        result = (
            deltalite.read_delta(spark, table)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .orderBy("o_orderpriority")
        )
        return detach_local(result)  # ≤5 rows; detach before rmtree
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "q227_deltalite_dv_cdf_census",
    # Detached-Arrow return shape like q224 (JVM-only plan on the
    # returned frame).  The oracle derives each DV commit's row-level
    # delete set straight from orders: commit 2 deletes every 7th key
    # (inline 'i' bitmaps), commit 3 deletes keys ≡ 3 mod 11 that
    # commit 2 didn't already delete (file-based 'u' bitmaps — the
    # merge means already-deleted keys must NOT reappear in the feed).
    # A green hash proves the change feed expresses deletion-vector
    # rewrites as exact row-level deltas for BOTH storage types.
    oracle="""
    SELECT 2 AS commit_version, 'delete' AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT 3, 'delete',
           CAST(COUNT(*) AS BIGINT),
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
    FROM orders WHERE o_orderkey % 11 = 3 AND o_orderkey % 7 <> 0
    ORDER BY commit_version
    """,
)
def q227_deltalite_dv_cdf_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Row-level change feed across merge-on-read deletes (verdict r10
    item 3): orders lands in two appends, a DV delete with INLINE
    bitmaps removes every 7th key, a second DV delete with FILE-BASED
    ('u') bitmaps removes keys ≡ 3 mod 11 (merging into files that
    already carry DVs), and the batch CDF over the two DV commits is
    censused per commit — each commit must report exactly its NEWLY
    deleted rows, never a file-level delete+insert pair."""
    import shutil
    import tempfile

    from pyspark_anomaly_detection_spark.io.detach import detach_local
    from pyspark_anomaly_detection_spark.io.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="deltalite_dv_cdf_")
    table = os.path.join(base, "orders_t")
    try:
        for half in (0, 1):
            deltalite.write_delta(
                orders.filter(F.col("o_orderkey") % 2 == half),
                table,
                mode="append",
            )
        delete_delta_dv(spark, table, "o_orderkey % 7 = 0", storage="i")
        delete_delta_dv(spark, table, "o_orderkey % 11 = 3", storage="u")
        feed = deltalite.read_delta_changes(spark, table, from_version=1)
        result = (
            feed.groupBy(
                F.col("_commit_version").alias("commit_version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .orderBy("commit_version")
        )
        return detach_local(result)  # 2 rows; detach before rmtree
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "q236_deltalite_dv_partitioned",
    # q224's lifecycle on a PARTITIONED table (round 13 — DV x
    # partitions was a fail-loud guard): bitmaps attach per data file
    # inside hive partitions, the reader subtracts per partition group
    # and reinjects partition values, a partition-pruned read agrees
    # with SQL's WHERE on the partition column, and REORG PURGE
    # re-stamps each rewritten file's partitionValues.  The census
    # GROUPs BY the partition column itself, so a NULL-partition bug
    # (the failure mode the old guard prevented) collapses every group
    # and can't hash-match.
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 3
          AND o_orderpriority >= '3'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q236_deltalite_dv_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deletion vectors on a PARTITIONED deltalite table: orders lands
    hive-partitioned by o_orderpriority, two successive DV deletes
    attach bitmaps (the second merges into already-DV'd files; no data
    files written), a REORG PURGE materializes them preserving each
    file's partitionValues, and the census reads back through a
    PARTITION-PRUNED read (priorities ≥ '3' — the pruning happens in
    the log, the oracle's WHERE replays it)."""
    import shutil
    import tempfile

    from pyspark_anomaly_detection_spark.io.detach import detach_local
    from pyspark_anomaly_detection_spark.io.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="deltalite_dv_part_")
    table = os.path.join(base, "orders_t")
    try:
        deltalite.write_delta(
            orders, table, partition_by=["o_orderpriority"]
        )
        delete_delta_dv(spark, table, "o_orderkey % 7 = 0")
        delete_delta_dv(spark, table, "o_orderkey % 11 = 3", storage="u")
        purge_delta(spark, table)
        pruned = deltalite.read_delta(spark, table).filter(
            F.col("o_orderpriority") >= "3"
        )
        result = (
            pruned.groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .orderBy("o_orderpriority")
        )
        return detach_local(result)  # ≤3 rows; detach before rmtree
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "q237_deltalite_dv_dml_census",
    # Closed form per key (lifecycle in the docstring): %11 keys end at
    # base+100 whether they were live (matched UPDATE) or DV-deleted
    # (re-INSERT through the not-matched branch); other live keys keep
    # base plus the +1.0 COW-update bump when %5==0; %7 keys not
    # resurrected by the merge stay deleted.
    oracle="""
    WITH f AS (
      SELECT o_orderpriority AS pr,
        CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 100.0
             ELSE o_totalprice + CASE WHEN o_orderkey % 5 = 0
                                      THEN 1.0 ELSE 0.0 END
        END AS price
      FROM orders
      WHERE o_orderkey % 7 <> 0 OR o_orderkey % 11 = 0
    )
    SELECT pr AS o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
    FROM f GROUP BY pr ORDER BY pr
    """,
)
def q237_deltalite_dv_dml_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deletion-vector × DML lifecycle (round 14 — verdict r13 item 1):
    orders lands in three appends, a merge-on-read DELETE bitmaps every
    7th key, a copy-on-write UPDATE bumps every live 5th key's price by
    1.0 — the rewrite reads touched files THROUGH their bitmaps and
    drops those files' DVs in the same commit — and a MERGE upserts
    every 11th key at base+100: live ones match and update, DV-deleted
    ones (%77 keys) are NOT matched and re-insert.  The census
    hash-checks the closed form, proving deletes never resurrect
    through rewrites, bitmap subtraction composes with the merge's
    matched/not-matched split, and untouched files keep their DVs."""
    import shutil
    import tempfile

    from pyspark_anomaly_detection_spark.io.deltalite_dml import (
        merge_delta,
        update_delta,
    )
    from pyspark_anomaly_detection_spark.io.detach import detach_local
    from pyspark_anomaly_detection_spark.io.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="deltalite_dv_dml_")
    table = os.path.join(base, "orders_t")
    try:
        for third in (0, 1, 2):
            deltalite.write_delta(
                orders.filter(F.col("o_orderkey") % 3 == third),
                table,
                mode="append",
            )
        delete_delta_dv(spark, table, "o_orderkey % 7 = 0")
        update_delta(
            spark,
            table,
            "o_orderkey % 5 = 0",
            {"o_totalprice": "o_totalprice + 1.0"},
        )
        merge_delta(
            spark,
            table,
            orders.filter(F.col("o_orderkey") % 11 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") + 100.0
            ),
            key="o_orderkey",
        )
        result = (
            deltalite.read_delta(spark, table)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .orderBy("o_orderpriority")
        )
        return detach_local(result)  # ≤5 rows; detach before rmtree
    finally:
        shutil.rmtree(base, ignore_errors=True)
