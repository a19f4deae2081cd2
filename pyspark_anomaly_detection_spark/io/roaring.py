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

The encoder is pure Python over ``int``/``bytes``; the decoder reads
every container with numpy (one vectorized step per container, not one
per value), so a reader can decode millions of deleted positions on the
driver.  Both run on BOUNDED inputs (one bitmap per data file).
Writer policy: a container is emitted as RUN when that is strictly
smaller than the array/bitmap choice, matching ``runOptimize()``
behavior; readers accept all three regardless.

Public API: :func:`serialize_roaring64` / :func:`deserialize_roaring64`
(sorted iterables of uint64 row indices),
:func:`deserialize_roaring64_array` (the same values as a uint64 numpy
array), plus the 32-bit halves for tests.
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


def _containers_of(values: list[int]) -> list[tuple[int, list[int]]]:
    """Sorted uint32 values → [(high16, [low16...])], both sorted."""
    out: list[tuple[int, list[int]]] = []
    cur_key: int | None = None
    cur: list[int] = []
    for v in values:
        hi, lo = v >> 16, v & 0xFFFF
        if hi != cur_key:
            if cur_key is not None:
                out.append((cur_key, cur))
            cur_key, cur = hi, []
        cur.append(lo)
    if cur_key is not None:
        out.append((cur_key, cur))
    return out


def _runs_of(lows: list[int]) -> list[tuple[int, int]]:
    """Sorted distinct uint16 list → [(start, runlen)]."""
    runs: list[tuple[int, int]] = []
    start = prev = lows[0]
    for v in lows[1:]:
        if v == prev + 1:
            prev = v
            continue
        runs.append((start, prev - start + 1))
        start = prev = v
    runs.append((start, prev - start + 1))
    return runs


def serialize_roaring32(values: list[int]) -> bytes:
    """Standard-format serialization of sorted distinct uint32 values."""
    conts = _containers_of(values)
    n = len(conts)
    # decide each container's representation
    reps: list[tuple[str, bytes]] = []
    for _key, lows in conts:
        card = len(lows)
        runs = _runs_of(lows)
        run_size = 2 + 4 * len(runs)
        plain_size = 2 * card if card <= ARRAY_MAX else 8192
        if run_size < plain_size:
            body = struct.pack("<H", len(runs)) + b"".join(
                struct.pack("<HH", s, ln - 1) for s, ln in runs
            )
            reps.append(("run", body))
        elif card <= ARRAY_MAX:
            reps.append(
                ("array", b"".join(struct.pack("<H", v) for v in lows))
            )
        else:
            bits = bytearray(8192)
            for v in lows:
                bits[v >> 3] |= 1 << (v & 7)
            reps.append(("bitmap", bytes(bits)))
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
    for (key, lows), _rep in zip(conts, reps):
        out += struct.pack("<HH", key, len(lows) - 1)
    if not has_run or n >= NO_OFFSET_THRESHOLD:
        # container offsets, from the start of the serialized bitmap
        header = len(out) + 4 * n
        pos = header
        for _k, body in reps:
            out += struct.pack("<I", pos)
            pos += len(body)
    for _k, body in reps:
        out += body
    return bytes(out)


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


def serialize_roaring64(values) -> bytes:
    """Portable 64-bit serialization of sorted distinct uint64 values."""
    values = sorted(set(int(v) for v in values))
    buckets: dict[int, list[int]] = {}
    for v in values:
        buckets.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)
    out = bytearray()
    out += struct.pack("<I", MAGIC_PORTABLE_64)
    out += struct.pack("<q", len(buckets))
    for key in sorted(buckets):
        out += struct.pack("<I", key)
        out += serialize_roaring32(buckets[key])
    return bytes(out)


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
