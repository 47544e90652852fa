"""Varint/delta-gap codec round-trip tests (SURVEY.md §5 unit tier)."""

import numpy as np
import pytest

from information_retrieval_images_spark.codec import (
    concat_varint_decode,
    segmented_gap_cumsum,
    segmented_varint_encode,
    varint_decode,
    varint_encode,
)


def test_varint_known_values():
    assert varint_encode(np.array([0])) == b"\x00"
    assert varint_encode(np.array([1])) == b"\x01"
    assert varint_encode(np.array([127])) == b"\x7f"
    assert varint_encode(np.array([128])) == b"\x80\x01"
    assert varint_encode(np.array([300])) == b"\xac\x02"


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


@pytest.mark.parametrize("seed", range(5))
def test_varint_roundtrip_random(seed):
    rng = np.random.default_rng(seed)
    # mix of magnitudes incl. full 64-bit range
    vals = np.concatenate(
        [
            rng.integers(0, 128, 200),
            rng.integers(0, 1 << 20, 200),
            rng.integers(0, 1 << 40, 100),
            rng.integers(0, np.iinfo(np.uint64).max, 50, dtype=np.uint64).astype(np.uint64),
        ]
    ).astype(np.uint64)
    out = varint_decode(varint_encode(vals))
    np.testing.assert_array_equal(out, vals)


def test_varint_boundaries():
    vals = []
    for t in range(10):
        for d in (-1, 0, 1):
            v = (1 << (7 * t)) + d
            if 0 <= v < (1 << 64):
                vals.append(v)
    vals = np.array(sorted(set(vals)), dtype=np.uint64)
    np.testing.assert_array_equal(varint_decode(varint_encode(vals)), vals)


def _segments(counts):
    counts = np.asarray(counts, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
    return starts, starts + counts


def _encode_gaps(ids, starts, ends):
    """The block encoder's gap layout: the first gap of a segment is its
    absolute id (index_build._encode_partition_frame)."""
    gaps = ids.copy()
    gaps[1:] -= ids[:-1]
    gaps[starts] = ids[starts]
    return segmented_varint_encode(gaps.astype(np.uint64), starts, ends)


@pytest.mark.parametrize("seed", range(5))
def test_doc_gap_roundtrip(seed):
    """Doc ids of many segments (single-posting ones included) round-trip
    through the engine's codec: one segmented encode, one concatenated
    decode and the segmented cumsum."""
    rng = np.random.default_rng(100 + seed)
    counts = rng.integers(1, 130, int(rng.integers(1, 60)))
    counts[::3] = 1  # single-posting segments, as unique terms make
    starts, ends = _segments(counts)
    segs = [np.cumsum(rng.integers(1, 10_000, int(c))) + int(rng.integers(0, 1 << 40)) for c in counts]
    ids = np.concatenate(segs).astype(np.int64)
    payloads = _encode_gaps(ids, starts, ends)
    assert len(payloads) == counts.size
    got = segmented_gap_cumsum(concat_varint_decode(payloads).astype(np.int64), counts)
    assert got.tolist() == ids.tolist()
    # each segment's payload decodes on its own too (a block is self-contained)
    for seg, buf in zip(segs, payloads):
        assert np.cumsum(varint_decode(buf).astype(np.int64)).tolist() == seg.tolist()


def test_tf_roundtrip():
    """tfs, 10-byte varints included, split into segments and decoded as
    one stream."""
    tfs = np.array([1, 1, 2, 200, 7, 1, (1 << 64) - 1, 1 << 63, 3], dtype=np.uint64)
    starts, ends = _segments([2, 1, 3, 1, 2])
    payloads = segmented_varint_encode(tfs, starts, ends)
    assert [len(p) for p in payloads] == [2, 1, 4, 10, 11]
    assert concat_varint_decode(payloads).tolist() == tfs.tolist()
    assert segmented_gap_cumsum(np.empty(0, np.int64), np.empty(0, np.int64)).size == 0


def test_compression_is_compact():
    # dense doc ids -> 1-byte gaps: payload ~n bytes, 8x under int64
    ids = np.arange(0, 128, dtype=np.int64) * 3
    starts, ends = _segments([64, 64])
    assert sum(len(p) for p in _encode_gaps(ids, starts, ends)) <= 130
