"""Delta-gap + varint posting-block codec, numpy-vectorized.

Posting blocks are persisted as ``BinaryType`` columns — the same
opaque-binary-payload-with-app-level-codec pattern the reference uses for
float32 embedding BLOBs (``db.py:196-205``, decode ``db.py:220-221``), but
carrying LEB128-varint-encoded doc-id gaps and term frequencies.

Both encode and decode are fully vectorized (no per-value Python loops):
encode scatters 7-bit groups by byte position; decode reassembles with
``np.add.reduceat`` over continuation-bit boundaries.
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10  # 64 bits / 7


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints (vectorized)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    nbytes = np.ones(v.size, dtype=np.int64)
    for t in range(1, _MAX_VARINT_BYTES):
        nbytes += (v >= np.uint64(1) << np.uint64(7 * t)).astype(np.int64)
    offsets = np.zeros(v.size, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=offsets[1:])
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for j in range(int(nbytes.max())):
        mask = nbytes > j
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1) > j
        out[offsets[mask] + j] = chunk.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Inverse of :func:`varint_encode` -> uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = (b & 0x80) == 0
    starts = np.empty(int(ends.sum()), dtype=np.int64)
    starts[0] = 0
    if starts.size > 1:
        starts[1:] = np.flatnonzero(ends)[:-1] + 1
    pos_in_value = np.arange(b.size, dtype=np.int64)
    counts = np.diff(np.append(starts, b.size))
    pos_in_value -= np.repeat(starts, counts)
    contrib = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos_in_value.astype(np.uint64))
    return np.add.reduceat(contrib, starts)


def varint_nbytes(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (vectorized)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nbytes = np.ones(v.size, dtype=np.int64)
    for t in range(1, _MAX_VARINT_BYTES):
        nbytes += (v >= np.uint64(1) << np.uint64(7 * t)).astype(np.int64)
    return nbytes


def segmented_varint_encode(values: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> list[bytes]:
    """Encode ALL values in one vectorized pass, then split the byte stream
    into per-segment payloads. Equivalent to (but ~100x faster than) calling
    :func:`varint_encode` per segment — rare terms make segments tiny, so
    per-call overhead would dominate an index build (web text: half the
    vocabulary appears in exactly one document)."""
    buf = varint_encode(values)
    pos = np.zeros(values.size + 1, dtype=np.int64)
    np.cumsum(varint_nbytes(values), out=pos[1:])
    return [buf[pos[s]:pos[e]] for s, e in zip(starts, ends)]


def concat_varint_decode(buffers) -> np.ndarray:
    """Decode a sequence of varint payloads as one stream (values are
    self-delimiting, so concatenation composes); split with the caller's
    known per-segment counts."""
    return varint_decode(b"".join(buffers))


def segmented_gap_cumsum(gaps: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Absolute doc ids from concatenated per-segment delta gaps (the first
    gap of each segment is the absolute id). Fully vectorized segmented
    cumsum: global cumsum minus the pre-segment prefix."""
    g = np.ascontiguousarray(gaps, dtype=np.int64)
    if g.size == 0:
        return g
    c = np.cumsum(g)
    starts = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    base = np.where(starts > 0, c[starts - 1], 0)
    return c - np.repeat(base, counts)
