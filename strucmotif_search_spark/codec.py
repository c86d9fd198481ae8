"""Vectorized payload codec: delta-gap + LEB128 varint, numpy-only.  The
one module that knows how the index's binary payloads are laid out.

The reference encodes each bucket (posting list) as three varint-encoded int
arrays with a hand-rolled colfer codec (io/codec/ColferCodec.java:101-133
encode, :24-99 decode) because gzip made bucket reads 20-30x slower
(benchmark/io/InvertedIndexRunner.java:56-99).  The reference varint-encodes
*absolute* docIDs; per the north rule we upgrade to **delta-gap + varint with
per-block skip pointers** (block metadata lives in the postings table columns
``max_doc_id`` / ``block_max_tf`` / ``n_docs``; this module only packs/unpacks
the byte payloads).

Every payload is a run of LEB128 varints (7 bits per byte, low group
first, high bit set on every byte but a value's last).  A *delta segment*
stores its first value absolute and each later value as the gap from its
predecessor.  The payloads:

- posting block (``build/postings.py``, one row per <=128 postings of a
  (shard, term_id)): ``doc_gaps`` = the block's ascending doc_ids as one
  delta segment; ``tfs`` = the tfs as plain varints; positional indexes add
  ``pos_data`` = each posting's ascending token ordinals as its own delta
  segment, concatenated in posting order (the postings' tfs delimit the
  segments, so no counts are stored).
- norms (``build/norms.py``, one row per shard): ``doc_gaps`` = the
  shard's ascending doc_ids as one delta segment; ``doclens`` = their
  doclens as plain varints.
- SPIMI run (``tokenizer.packed_term_runs``, one row per (shard, term) per
  Arrow batch): ``doc_deltas`` / ``tfs`` / ``pos_data`` laid out exactly as
  a posting block's ``doc_gaps`` / ``tfs`` / ``pos_data``, over any number
  of postings.  So a posting block is a run (``first_doc_id`` /
  ``doc_gaps`` read as ``first_doc`` / ``doc_deltas``), and one merge
  (``postings._merge_pack_run_rows``) packs every block written: the
  build merges its map output's runs, and every repack (ADD, REMOVE,
  ``compact``) merges the old blocks, plus an ADD's new runs.
- doc-meta run (the ``term == ''`` rows of the same output, one per shard
  per Arrow batch): ``doc_deltas`` = the batch's doc_ids of that shard as
  one delta segment; ``tfs`` = their doclens as plain varints;
  ``sha_data`` = their raw 32-byte content digests concatenated.

A payload is written with :func:`encode_segments` and read with
:func:`decode_segments` (plus :func:`undelta` for delta segments that do
not coincide with buffers); :func:`pack_block` / :func:`unpack_block` are
the one-block forms the query path reads.

Everything here is array-at-a-time numpy — no per-element Python loops over
values (the encode/decode loops below iterate over *byte positions* (<=10) or
*byte-length classes* (<=10), never over the n values; the only loop over
buffers is the per-buffer bytes slice).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

_MASK7 = np.uint64(0x7F)
_CONT = np.uint8(0x80)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int array into a byte string.

    Vectorized: computes each value's byte length, then fills one byte
    position at a time across all values (<=10 iterations for uint64).
    """
    return varint_encode_with_lengths(values)[0]


def varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Like :func:`varint_encode`, but also returns each value's encoded byte
    length, so callers can slice the concatenated encoding at value
    boundaries (varint is per-value independent: the encoding of a
    concatenated array IS the concatenation of the encodings)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    bits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    for _ in range(10):
        more = tmp > 0
        if not more.any():
            break
        bits[more] += 1
        tmp >>= np.uint64(7)
    nbytes = np.maximum(bits, 1)
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(offsets[-1], dtype=np.uint8)
    shifted = v.copy()
    pos = 0
    remaining = np.arange(v.size)
    while remaining.size:
        idx = offsets[remaining] + pos
        byte = (shifted[remaining] & _MASK7).astype(np.uint8)
        has_more = (pos + 1) < nbytes[remaining]
        out[idx] = byte | np.where(has_more, _CONT, np.uint8(0))
        shifted[remaining] >>= np.uint64(7)
        remaining = remaining[has_more]
        pos += 1
    return out.tobytes(), nbytes


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a LEB128 byte string into a uint64 array.  Vectorized:
    terminator bytes (high bit clear) delimit values; per-value reassembly is
    a loop over byte positions within values (<=10), not over values.
    """
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (raw & _CONT) == 0
    n_vals = int(is_end.sum())
    # index of the value each byte belongs to
    val_idx = np.zeros(raw.size, dtype=np.int64)
    val_idx[1:] = np.cumsum(is_end[:-1])
    # position of each byte within its value
    starts = np.zeros(n_vals, dtype=np.int64)
    ends = np.flatnonzero(is_end)
    starts[1:] = ends[:-1] + 1
    byte_pos = np.arange(raw.size, dtype=np.int64) - starts[val_idx]
    payload = (raw & np.uint8(0x7F)).astype(np.uint64) << (
        np.uint64(7) * byte_pos.astype(np.uint64)
    )
    out = np.zeros(n_vals, dtype=np.uint64)
    np.add.at(out, val_idx, payload)
    return out


def offsets(counts: np.ndarray) -> np.ndarray:
    """``[0, c0, c0+c1, ...]``: where each of ``counts``' segments starts in
    the flat array they partition, plus its end."""
    out = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=out[1:])
    return out


def segment_starts(*keys: np.ndarray) -> np.ndarray:
    """Indices where any of the equal-length ``keys`` changes value: the
    starts of the maximal runs of rows sorted by those keys."""
    n = len(keys[0])
    new = np.zeros(n, dtype=bool)
    new[:1] = True
    for k in keys:
        new[1:] |= k[1:] != k[:-1]
    return np.flatnonzero(new)


def encode_segments(
    values: np.ndarray,
    bounds: np.ndarray,
    restarts: np.ndarray | None = None,
) -> list[bytes]:
    """Encode ``values`` and cut the encoding into one ``bytes`` per slice:
    slice ``i`` holds ``values[bounds[i]:bounds[i + 1]]`` (the last slice
    runs to the end).  ``restarts`` lists where a delta segment starts (the
    value stored absolute, later values as gaps); ``None`` stores every
    value as it is.  One varint pass over the whole array; the only Python
    loop is the per-slice bytes copy."""
    v = np.asarray(values, dtype=np.int64)
    if restarts is not None and v.size:
        gaps = np.empty_like(v)
        gaps[0] = v[0]
        np.subtract(v[1:], v[:-1], out=gaps[1:])
        gaps[restarts] = v[restarts]
        v = gaps
    buf, lens = varint_encode_with_lengths(v)
    cuts = offsets(lens)[np.append(bounds, v.size)]
    view = memoryview(buf)
    return [bytes(view[s:e]) for s, e in zip(cuts[:-1], cuts[1:])]


def undelta(gaps: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Absolute values of consecutive delta segments of ``counts`` values
    each: one global cumsum minus each segment's preceding prefix.  int64
    headroom: the running sum is bounded by (values per call, ~10^4 rows
    per Arrow batch) x max doc_id (< 2^40 at the 10^12-doc design point)
    ~ 2^53, far under 2^63."""
    counts = np.asarray(counts, dtype=np.int64)
    c = np.zeros(len(gaps) + 1, dtype=np.int64)
    np.cumsum(gaps, out=c[1:])
    return c[1:] - np.repeat(c[offsets(counts)[:-1]], counts)


def decode_segments(
    bufs: Sequence[bytes],
    counts: np.ndarray | None = None,
    delta: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode a sequence of buffers -> (flat int64 values, values per
    buffer).  ``counts`` gives the values per buffer; without it they are
    counted from terminator bytes.  ``delta=True`` reads each buffer as one
    delta segment.  One varint pass over the concatenation (varint is
    per-value independent), whatever the number of buffers."""
    bufs = list(bufs)
    blob = b"".join(bufs)
    values = varint_decode(blob).astype(np.int64)
    if counts is None:
        ends = np.zeros(len(bufs) + 1, dtype=np.int64)
        np.cumsum([len(b) for b in bufs], out=ends[1:])
        is_end = (np.frombuffer(blob, dtype=np.uint8) & _CONT) == 0
        counts = np.diff(offsets(is_end)[ends])
    counts = np.asarray(counts, dtype=np.int64)
    return (undelta(values, counts) if delta else values), counts


def gather_segments(
    values: np.ndarray, counts: np.ndarray, order: np.ndarray
) -> np.ndarray:
    """The consecutive segments of ``values`` (``counts`` values each)
    listed by ``order`` (a permutation or a subset of their indices), each
    segment's values kept in place."""
    counts = np.asarray(counts, dtype=np.int64)
    new_counts = counts[order]
    shift = offsets(counts)[:-1][order] - offsets(new_counts)[:-1]
    return values[np.arange(new_counts.sum()) + np.repeat(shift, new_counts)]


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-ascending int array -> first value + gaps (gap-1 not used:
    reference stores absolute ids; we store first id then raw gaps)."""
    a = np.asarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return a
    gaps = np.empty_like(a)
    gaps[0] = a[0]
    np.subtract(a[1:], a[:-1], out=gaps[1:])
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    g = np.asarray(gaps, dtype=np.uint64)
    return np.cumsum(g, dtype=np.uint64)


def pack_block(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """Pack one posting block: ascending doc_ids -> delta-gap varint bytes;
    tfs -> varint bytes.  Returns (doc_gaps, tf_bytes)."""
    return (
        encode_segments(doc_ids, [0], restarts=[0])[0],
        encode_segments(tfs, [0])[0],
    )


def unpack_block(doc_gaps: bytes, tf_bytes: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of pack_block -> (doc_ids int64 ascending, tfs int64)."""
    ids = delta_decode(varint_decode(doc_gaps)).astype(np.int64)
    tfs = varint_decode(tf_bytes).astype(np.int64)
    return ids, tfs
