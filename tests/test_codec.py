"""Codec round-trip tests — analogue of the reference's codec tests
(io/codec/ColferCodec round-trips exercised via DefaultInvertedIndexTest)."""

import numpy as np
import pytest

from strucmotif_search_spark.codec import (
    decode_segments,
    delta_decode,
    delta_encode,
    encode_segments,
    gather_segments,
    offsets,
    pack_block,
    undelta,
    unpack_block,
    varint_decode,
    varint_encode,
)


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_varint_known_values():
    # single-byte values
    assert varint_encode(np.array([0])) == b"\x00"
    assert varint_encode(np.array([1])) == b"\x01"
    assert varint_encode(np.array([127])) == b"\x7f"
    # two-byte boundary
    assert varint_encode(np.array([128])) == b"\x80\x01"
    assert varint_encode(np.array([300])) == b"\xac\x02"


@pytest.mark.parametrize("seed", [0, 1, 7])
def test_varint_roundtrip_random(seed):
    rng = np.random.default_rng(seed)
    vals = np.concatenate(
        [
            rng.integers(0, 128, 500),
            rng.integers(0, 1 << 14, 500),
            rng.integers(0, 1 << 28, 500),
            rng.integers(0, 1 << 45, 100).astype(np.uint64),
            np.array([0, 1, 127, 128, 16383, 16384, (1 << 63) - 1], dtype=np.uint64),
        ]
    ).astype(np.uint64)
    rng.shuffle(vals)
    out = varint_decode(varint_encode(vals))
    np.testing.assert_array_equal(out, vals)


def test_delta_roundtrip():
    rng = np.random.default_rng(3)
    ids = np.unique(rng.integers(0, 1 << 40, 2000).astype(np.uint64))
    np.testing.assert_array_equal(delta_decode(delta_encode(ids)), ids)


def test_pack_unpack_block():
    rng = np.random.default_rng(11)
    ids = np.unique(rng.integers(0, 10_000_000, 1000)).astype(np.int64)
    tfs = rng.integers(1, 500, ids.size).astype(np.int64)
    gaps, tfb = pack_block(ids, tfs)
    out_ids, out_tfs = unpack_block(gaps, tfb)
    np.testing.assert_array_equal(out_ids, ids)
    np.testing.assert_array_equal(out_tfs, tfs)
    # compression sanity: delta+varint beats raw int64
    assert len(gaps) < ids.size * 8


# ---- hypothesis property tests (round 4): arbitrary adversarial inputs ----
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=(1 << 63) - 1),
        min_size=0,
        max_size=200,
    )
)
def test_varint_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    np.testing.assert_array_equal(varint_decode(varint_encode(arr)), arr)


@settings(max_examples=300, deadline=None)
@given(
    st.sets(
        st.integers(min_value=0, max_value=(1 << 40) - 1),
        min_size=1,
        max_size=200,
    )
)
def test_pack_unpack_block_property(id_set):
    """pack/unpack is lossless for ANY strictly-ascending doc_id set with
    arbitrary tfs — the posting-block invariant every read path rests on."""
    ids = np.array(sorted(id_set), dtype=np.int64)
    rng = np.random.default_rng(ids[0] % (1 << 32))
    tfs = rng.integers(1, 1 << 20, ids.size).astype(np.int64)
    gaps, tfb = pack_block(ids, tfs)
    out_ids, out_tfs = unpack_block(gaps, tfb)
    np.testing.assert_array_equal(out_ids, ids)
    np.testing.assert_array_equal(out_tfs, tfs)


def test_encode_segments_known_bytes():
    # two delta segments, one slice each: absolute first value, then gaps
    v = np.array([5, 7, 9, 1, 2, 3, 100])
    assert encode_segments(v, [0, 3], restarts=[0, 3]) == [
        b"\x05\x02\x02", b"\x01\x01\x01\x61"
    ]
    # no restarts: every value stored as it is; an empty slice is b""
    assert encode_segments(v, [0, 0, 6]) == [
        b"", b"\x05\x07\x09\x01\x02\x03", b"\x64"
    ]


_VALUE = st.integers(min_value=0, max_value=(1 << 40) - 1)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.lists(_VALUE, min_size=1, max_size=40), max_size=30))
def test_segments_roundtrip_property(segs):
    """One delta segment per slice (doc ids) and plain slices (tfs), any
    segment layout: decoding the slices gives back the values and the
    per-slice counts, counted from terminator bytes or given."""
    ids = [sorted(s) for s in segs]
    flat = np.array([v for s in ids for v in s], dtype=np.int64)
    counts = np.array([len(s) for s in ids], dtype=np.int64)
    starts = offsets(counts)[:-1]
    gap_bufs = encode_segments(flat, starts, restarts=starts)
    raw_bufs = encode_segments(flat, starts)
    assert len(gap_bufs) == len(raw_bufs) == len(segs)
    for bufs, delta in ((gap_bufs, True), (raw_bufs, False)):
        for given_counts in (None, counts):
            got, got_counts = decode_segments(bufs, given_counts, delta=delta)
            np.testing.assert_array_equal(got, flat)
            np.testing.assert_array_equal(got_counts, counts)
    # a slice of one delta segment is the one-block payload
    for s, buf in zip(ids, gap_bufs):
        assert buf == pack_block(np.array(s), np.array(s))[0]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.lists(st.sets(_VALUE, min_size=1, max_size=12), min_size=1, max_size=8),
        max_size=12,
    ),
    st.randoms(use_true_random=False),
)
def test_positions_two_level_roundtrip_property(blocks, rnd):
    """Positions: a delta restart at every posting, a slice at every block.
    Each block's bytes stand alone, the postings' tfs recover the values,
    and a segment gather reorders postings without splitting them."""
    postings = [sorted(p) for b in blocks for p in b]
    flat = np.array([v for p in postings for v in p], dtype=np.int64)
    tfs = np.array([len(p) for p in postings], dtype=np.int64)
    pstarts = offsets(tfs)
    per_block = np.array([len(b) for b in blocks], dtype=np.int64)
    bufs = encode_segments(
        flat, pstarts[offsets(per_block)[:-1]], restarts=pstarts[:-1]
    )
    assert len(bufs) == len(blocks)
    gaps, _ = decode_segments(bufs)
    np.testing.assert_array_equal(undelta(gaps, tfs), flat)
    for b, buf in zip(blocks, bufs):
        mine = [sorted(p) for p in b]
        alone = offsets([len(p) for p in mine])
        assert buf == encode_segments(
            np.array([v for p in mine for v in p]), [0], restarts=alone[:-1]
        )[0]
    order = np.array(rnd.sample(range(len(postings)), len(postings)), dtype=np.int64)
    np.testing.assert_array_equal(
        gather_segments(flat, tfs, order),
        np.array([v for j in order for v in postings[j]], dtype=np.int64),
    )
