"""From-scratch Roaring bitmap codec — the deletion-vector format.

Delta Lake deletion vectors serialize the deleted row indices of one
data file as a 64-bit Roaring bitmap in the "portable" format
(PROTOCOL.md, "Deletion Vector Format"; also implemented by delta-rs):

* 4-byte little-endian magic ``1681511377``;
* 8-byte little-endian number of 32-bit buckets;
* per bucket (increasing key order): 4-byte LE key (the high 32 bits)
  followed by a STANDARD 32-bit Roaring bitmap serialization
  (RoaringFormatSpec) of the low 32 bits.

The standard 32-bit format, as published by the RoaringBitmap project:

* cookie ``12346`` (no run containers): ``[cookie:4][n-1... (n:4)]``
  then ``n`` pairs of ``(key:2, cardinality-1:2)``, then ``n`` 4-byte
  container offsets, then the containers;
* cookie ``12347`` (run containers present): low 16 bits = 12347, high
  16 bits = n-1; then a ``(n+7)//8``-byte run bitset; then the
  key/cardinality pairs; offsets appear only when ``n >= 4``; then the
  containers;
* containers: ARRAY (sorted uint16 values, card ≤ 4096), BITMAP
  (1024 × uint64 LE, card > 4096), RUN (``[n_runs:2]`` then
  ``(start:2, length-1:2)`` pairs).

Encoder and decoder both work on numpy arrays, one vectorized step per
container (not one per value), so the driver can encode or decode
millions of deleted positions.  Both run on BOUNDED inputs (one bitmap
per data file).  Writer policy: a container is emitted as RUN when that
is strictly smaller than the array/bitmap choice, matching
``runOptimize()`` behavior; readers accept all three regardless.

Public API: :func:`serialize_roaring64_array` /
:func:`deserialize_roaring64_array` (sorted uint64 numpy arrays — the
one encoder and decoder), :func:`serialize_roaring64` /
:func:`deserialize_roaring64` (the same over Python ints), plus the
32-bit halves for tests.
"""

from __future__ import annotations

import struct

import numpy as np

SERIAL_COOKIE_NO_RUN = 12346
SERIAL_COOKIE_RUN = 12347
ARRAY_MAX = 4096
NO_OFFSET_THRESHOLD = 4
MAGIC_PORTABLE_64 = 1681511377


# --------------------------------------------------------- 32-bit core


def _serialize_roaring32_array(values: np.ndarray) -> bytes:
    """Standard-format serialization of sorted distinct uint32 values
    (a numpy array).  Containers, runs and cardinalities come from a few
    whole-array numpy steps; only the per-CONTAINER assembly is a Python
    loop (at most 65536 containers, each emitted by one ``tobytes``)."""
    hi = (values >> 16).astype(np.int64)
    lo = (values & 0xFFFF).astype(np.uint16)
    keys, starts = np.unique(hi, return_index=True)
    ends = np.append(starts[1:], len(values))
    n = len(keys)
    # a run starts where the value is not its predecessor + 1, and at
    # every container start (runs never cross containers)
    run_start = np.ones(len(values), bool)
    run_start[1:] = np.diff(values.astype(np.int64)) != 1
    run_start[starts] = True
    run_idx = np.flatnonzero(run_start)
    run_end = np.append(run_idx[1:], len(values)) - 1
    runs_per = (
        np.add.reduceat(run_start.astype(np.int64), starts) if n else starts
    )
    first_run = np.cumsum(runs_per) - runs_per
    reps: list[tuple[str, bytes]] = []
    for i in range(n):
        lows = lo[starts[i] : ends[i]]
        n_runs = int(runs_per[i])
        # a container is RUN when that is strictly smaller than the
        # array/bitmap choice (``runOptimize()``)
        plain_size = 2 * len(lows) if len(lows) <= ARRAY_MAX else 8192
        if 2 + 4 * n_runs < plain_size:
            r0 = int(first_run[i])
            rs, re_ = run_idx[r0 : r0 + n_runs], run_end[r0 : r0 + n_runs]
            pairs = np.empty(2 * n_runs, "<u2")
            pairs[0::2] = lo[rs]
            pairs[1::2] = lo[re_] - lo[rs]  # run length - 1
            body = struct.pack("<H", n_runs) + pairs.tobytes()
            reps.append(("run", body))
        elif len(lows) <= ARRAY_MAX:
            reps.append(("array", lows.astype("<u2").tobytes()))
        else:
            bits = np.zeros(1 << 16, bool)
            bits[lows] = True
            body = np.packbits(bits, bitorder="little").tobytes()
            reps.append(("bitmap", body))
    has_run = any(k == "run" for k, _ in reps)
    out = bytearray()
    if has_run:
        out += struct.pack("<I", SERIAL_COOKIE_RUN | ((n - 1) << 16))
        bitset = bytearray((n + 7) // 8)
        for i, (k, _) in enumerate(reps):
            if k == "run":
                bitset[i // 8] |= 1 << (i % 8)
        out += bitset
    else:
        out += struct.pack("<I", SERIAL_COOKIE_NO_RUN)
        out += struct.pack("<I", n)
    key_cards = np.empty(2 * n, "<u2")
    key_cards[0::2] = keys
    key_cards[1::2] = ends - starts - 1
    out += key_cards.tobytes()
    if not has_run or n >= NO_OFFSET_THRESHOLD:
        # container offsets, from the start of the serialized bitmap
        sizes = np.array([len(body) for _k, body in reps], np.int64)
        offsets = len(out) + 4 * n + np.cumsum(sizes) - sizes
        out += offsets.astype("<u4").tobytes()
    for _k, body in reps:
        out += body
    return bytes(out)


def serialize_roaring32(values: list[int]) -> bytes:
    """Standard-format serialization of sorted distinct uint32 values."""
    return _serialize_roaring32_array(np.asarray(values, dtype=np.uint32))


def _roaring32_array(buf: bytes, offset: int = 0) -> tuple[np.ndarray, int]:
    """Decode one standard-format 32-bit bitmap starting at ``offset``
    into a sorted uint64 array — every container decodes vectorized
    (array: one ``frombuffer``; bitmap: ``unpackbits``; run: one
    ``repeat`` + ``arange``).  Returns (values, bytes consumed)."""
    base = offset
    (cookie,) = struct.unpack_from("<I", buf, offset)
    offset += 4
    if (cookie & 0xFFFF) == SERIAL_COOKIE_RUN:
        n = (cookie >> 16) + 1
        bitset = buf[offset : offset + (n + 7) // 8]
        offset += (n + 7) // 8
        is_run = [bool(bitset[i // 8] & (1 << (i % 8))) for i in range(n)]
        has_offsets = n >= NO_OFFSET_THRESHOLD
    elif cookie == SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<I", buf, offset)
        offset += 4
        is_run = [False] * n
        has_offsets = True
    else:
        raise ValueError(f"roaring: bad cookie {cookie}")
    keys_cards = np.frombuffer(buf, "<u2", count=2 * n, offset=offset)
    offset += 4 * n
    if has_offsets:
        offset += 4 * n  # offsets are redundant for sequential decode
    parts: list[np.ndarray] = []
    for i in range(n):
        key, card = int(keys_cards[2 * i]), int(keys_cards[2 * i + 1]) + 1
        if is_run[i]:
            (n_runs,) = struct.unpack_from("<H", buf, offset)
            runs = np.frombuffer(
                buf, "<u2", count=2 * n_runs, offset=offset + 2
            ).astype(np.int64)
            offset += 2 + 4 * n_runs
            starts, lens = runs[0::2], runs[1::2] + 1
            # value k of run r is starts[r] + (k - first index of run r)
            begins = np.cumsum(lens) - lens
            lows = np.arange(int(lens.sum()), dtype=np.int64) + np.repeat(
                starts - begins, lens
            )
        elif card > ARRAY_MAX:
            bits = np.unpackbits(
                np.frombuffer(buf, np.uint8, count=8192, offset=offset),
                bitorder="little",
            )
            offset += 8192
            lows = np.flatnonzero(bits)
        else:
            lows = np.frombuffer(buf, "<u2", count=card, offset=offset)
            offset += 2 * card
        parts.append(lows.astype(np.uint64) + np.uint64(key << 16))
    values = np.concatenate(parts) if parts else np.empty(0, np.uint64)
    return values, offset - base


def deserialize_roaring32(buf: bytes, offset: int = 0) -> tuple[list[int], int]:
    """Decode one standard-format 32-bit bitmap starting at ``offset``;
    returns (sorted values, bytes consumed)."""
    values, used = _roaring32_array(buf, offset)
    return values.tolist(), used


# ------------------------------------------------- 64-bit portable form


def serialize_roaring64_array(values: np.ndarray) -> bytes:
    """Portable 64-bit serialization of a sorted, distinct uint64 array
    — the inverse of :func:`deserialize_roaring64_array`."""
    values = np.asarray(values, dtype=np.uint64)
    if len(values) > 1 and not (values[1:] > values[:-1]).all():
        raise ValueError("roaring64: values must be sorted and distinct")
    keys, starts = np.unique(values >> np.uint64(32), return_index=True)
    ends = np.append(starts[1:], len(values))
    out = bytearray()
    out += struct.pack("<I", MAGIC_PORTABLE_64)
    out += struct.pack("<q", len(keys))
    for key, a, b in zip(keys.tolist(), starts.tolist(), ends.tolist()):
        out += struct.pack("<I", key)
        low = (values[a:b] & np.uint64(0xFFFFFFFF)).astype(np.uint32)
        out += _serialize_roaring32_array(low)
    return bytes(out)


def serialize_roaring64(values) -> bytes:
    """Portable 64-bit serialization of uint64 values (any order,
    duplicates dropped)."""
    return serialize_roaring64_array(
        np.unique(np.fromiter((int(v) for v in values), dtype=np.uint64))
    )


def deserialize_roaring64_array(buf: bytes) -> np.ndarray:
    """Portable 64-bit bitmap → sorted uint64 array of its values."""
    (magic,) = struct.unpack_from("<I", buf, 0)
    if magic != MAGIC_PORTABLE_64:
        raise ValueError(f"roaring64: bad magic {magic}")
    (n_buckets,) = struct.unpack_from("<q", buf, 4)
    offset = 12
    parts: list[np.ndarray] = []
    for _ in range(n_buckets):
        (key,) = struct.unpack_from("<I", buf, offset)
        offset += 4
        lows, used = _roaring32_array(buf, offset)
        offset += used
        parts.append(lows | np.uint64(key << 32))
    return np.concatenate(parts) if parts else np.empty(0, np.uint64)


def deserialize_roaring64(buf: bytes) -> list[int]:
    return deserialize_roaring64_array(buf).tolist()
