"""Varint/delta-gap codec round-trip tests (SURVEY.md §5 unit tier)."""

import numpy as np
import pyarrow as pa
import pytest

from information_retrieval_images_spark.codec import (
    concat_varint_decode,
    decode_blocks,
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


@pytest.mark.parametrize("seed", range(5))
def test_decode_blocks_matches_stream_decode(seed):
    """The one block decoder gives what concat_varint_decode plus
    segmented_gap_cumsum give, on random blocks with empty and
    one-posting ones among them, whether the payloads come as a list of
    bytes (a pandas column), an Arrow binary array read from its data
    buffer, a slice of one or a chunked array. Another Arrow type (whose
    offsets are not int32) is refused."""
    rng = np.random.default_rng(200 + seed)
    counts = rng.integers(1, 130, int(rng.integers(3, 60)))
    counts[::3] = 1
    counts[1::5] = 0  # empty blocks: no posting, empty payloads
    starts, ends = _segments(counts)
    ids = np.concatenate(
        [np.cumsum(rng.integers(1, 10_000, int(c))) + int(rng.integers(0, 1 << 40)) for c in counts]
    ).astype(np.int64)
    tfs = rng.integers(1, 1 << 20, ids.size).astype(np.uint64)
    docs_enc = _encode_gaps(ids, starts, ends)
    tfs_enc = segmented_varint_encode(tfs, starts, ends)
    want_d = segmented_gap_cumsum(concat_varint_decode(docs_enc).astype(np.int64), counts)
    want_t = concat_varint_decode(tfs_enc)
    assert want_d.tolist() == ids.tolist()
    cut = counts.size // 2
    forms = [
        (docs_enc, tfs_enc),
        (pa.array(docs_enc, pa.binary()), pa.array(tfs_enc, pa.binary())),
        (pa.array([b"x"] + docs_enc, pa.binary()).slice(1), pa.array([b"y"] + tfs_enc, pa.binary()).slice(1)),
        (pa.chunked_array([docs_enc[:cut], docs_enc[cut:]], pa.binary()), pa.chunked_array([tfs_enc], pa.binary())),
    ]
    for docs, tf in forms:
        d, t = decode_blocks(docs, tf, counts)
        assert d.dtype == np.int64 and d.tolist() == want_d.tolist()
        assert t.tolist() == want_t.tolist()
    empty = decode_blocks(pa.array([b""], pa.binary()), [b""], [0])
    assert [a.size for a in empty] == [0, 0]
    with pytest.raises(TypeError, match="binary"):
        decode_blocks(pa.array(docs_enc, pa.large_binary()), tfs_enc, counts)
    with pytest.raises(ValueError, match="postings"):
        decode_blocks(docs_enc, tfs_enc[1:], counts)  # block 0 holds one posting
