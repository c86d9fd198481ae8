"""SPIMI posting construction + block packing.

Reference analogues:
- stage 1 (map): per-doc tokenize + tf extraction = the per-doc work in
  StrucmotifUpdate.handleUpdateItem (update/StrucmotifUpdate.java:327-373),
  expressed as mapInPandas over the source table (tokenizer.packed_term_runs);
- the shuffle: the reference's per-thread per-term-prefix partial files
  (update/Context.java:50-73) are Spark's shuffle made explicit — we group by
  (shard, term_id) where ``shard`` is the doc-range partition;
- stage 2 (merge + encode): DefaultInvertedIndex.commit's fold-and-encode
  (io/DefaultInvertedIndex.java:120-239) becomes a grouped applyInPandas that
  sorts each (shard, term) run by doc_id and packs delta-gap varint blocks
  with skip metadata (north_rule upgrade over the reference's absolute-id
  varints, io/codec/ColferCodec.java:101-133).

Skew: head terms (df ~ N, e.g. ``import``) never form a single group because
the index is document-sharded — a term's postings are split across shards by
doc range, each group is at most ``docs_per_shard`` entries, and shards are
disjoint ascending doc ranges so per-shard block sets need no cross-merge
(the split-and-merge of SURVEY.md §4.3 with the merge made trivial by
construction).

Posting-block schema (the analogue of ArrayBucket's CSR triple,
domain/bucket/ArrayBucket.java:32-34, plus skip pointers):
    shard int, term_id long, block_id int, first_doc_id long, max_doc_id long,
    n_docs int, block_max_tf int, doc_gaps binary, tfs binary
Blocks within (shard, term_id) are doc-ascending; ``first_doc_id`` /
``max_doc_id`` are the skip pointers, ``block_max_tf`` the block-max score
bound input for WAND.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..codec import varint_encode_with_lengths

BLOCK_DOCS = 128

POSTINGS_SCHEMA = StructType(
    [
        StructField("shard", IntegerType(), False),
        StructField("term_id", LongType(), False),
        StructField("block_id", IntegerType(), False),
        StructField("first_doc_id", LongType(), False),
        StructField("max_doc_id", LongType(), False),
        StructField("n_docs", IntegerType(), False),
        StructField("block_max_tf", IntegerType(), False),
        StructField("doc_gaps", BinaryType(), False),
        StructField("tfs", BinaryType(), False),
    ]
)

# positional flavor: per block, the concatenation over its docs (in doc
# order) of each doc's delta-encoded position list (tf values delimit the
# per-doc runs, so no extra counts are stored) — the occurrence-payload
# analogue of ArrayBucket.identifierData (ArrayBucket.java:34)
POSTINGS_POS_SCHEMA = StructType(
    POSTINGS_SCHEMA.fields
    + [StructField("pos_data", BinaryType(), False)]
)


def _pack_runs(
    shard: np.ndarray,
    tid: np.ndarray,
    ids: np.ndarray,
    tfs: np.ndarray,
    positions: np.ndarray | None = None,
) -> pd.DataFrame:
    """Vectorized block packing of rows sorted by (shard, term_id, doc_id).

    Zero per-posting Python: run/block boundaries are detected with array
    ops, per-block maxima come from ``np.maximum.reduceat``, and the varint
    payloads for the WHOLE input are encoded in one call then sliced at
    value boundaries per block (varint is per-value independent).  The only
    Python loop is over *blocks* (<=1 per 128 postings) doing a bytes slice.
    """
    n = ids.size
    out_schema = POSTINGS_POS_SCHEMA if positions is not None else POSTINGS_SCHEMA
    if n == 0:
        return pd.DataFrame(
            {f.name: pd.Series(dtype="object") for f in out_schema.fields}
        )
    run_start = np.empty(n, dtype=bool)
    run_start[0] = True
    run_start[1:] = (tid[1:] != tid[:-1]) | (shard[1:] != shard[:-1])
    run_idx = np.cumsum(run_start) - 1
    run_first = np.flatnonzero(run_start)
    idx_in_run = np.arange(n, dtype=np.int64) - run_first[run_idx]
    block_start = (idx_in_run % BLOCK_DOCS) == 0
    bstart = np.flatnonzero(block_start)
    bend = np.append(bstart[1:], n)
    nb = bstart.size
    # block_id within each (shard, term) run
    blk_run = run_idx[bstart]
    blk_new_run = np.empty(nb, dtype=bool)
    blk_new_run[0] = True
    blk_new_run[1:] = blk_run[1:] != blk_run[:-1]
    blk_run_first = np.flatnonzero(blk_new_run)
    blk_run_idx = np.cumsum(blk_new_run) - 1
    block_id = (np.arange(nb, dtype=np.int64) - blk_run_first[blk_run_idx]).astype(
        np.int32
    )
    # delta gaps with absolute value at every block start
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    gaps[bstart] = ids[bstart]
    gap_bytes, gap_lens = varint_encode_with_lengths(gaps.astype(np.uint64))
    tf_bytes, tf_lens = varint_encode_with_lengths(tfs.astype(np.uint64))
    gap_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(gap_lens, out=gap_off[1:])
    tf_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tf_lens, out=tf_off[1:])
    gv = memoryview(gap_bytes)
    tv = memoryview(tf_bytes)
    cols = {
        "shard": shard[bstart].astype(np.int32),
        "term_id": tid[bstart].astype(np.int64),
        "block_id": block_id,
        "first_doc_id": ids[bstart].astype(np.int64),
        "max_doc_id": ids[bend - 1].astype(np.int64),
        "n_docs": (bend - bstart).astype(np.int32),
        "block_max_tf": np.maximum.reduceat(tfs, bstart).astype(np.int32),
        "doc_gaps": [
            bytes(gv[gap_off[s] : gap_off[e]]) for s, e in zip(bstart, bend)
        ],
        "tfs": [
            bytes(tv[tf_off[s] : tf_off[e]]) for s, e in zip(bstart, bend)
        ],
    }
    if positions is not None:
        # flatten all position lists (posting order), delta-encode with a
        # reset at each doc's first position, varint once, slice per block
        flat = (
            np.concatenate(positions)
            if len(positions)
            else np.empty(0, dtype=np.int64)
        ).astype(np.int64)
        pcounts = tfs.astype(np.int64)
        pstarts = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(pcounts, out=pstarts[1:])
        pgaps = np.empty(flat.size, dtype=np.int64)
        if flat.size:
            pgaps[0] = flat[0]
            np.subtract(flat[1:], flat[:-1], out=pgaps[1:])
            pgaps[pstarts[:-1]] = flat[pstarts[:-1]]
        pos_bytes, pos_lens = varint_encode_with_lengths(pgaps.astype(np.uint64))
        pos_off = np.zeros(flat.size + 1, dtype=np.int64)
        np.cumsum(pos_lens, out=pos_off[1:])
        pv = memoryview(pos_bytes)
        cols["pos_data"] = [
            bytes(pv[pos_off[pstarts[s]] : pos_off[pstarts[e]]])
            for s, e in zip(bstart, bend)
        ]
    return pd.DataFrame(cols)


def _pack_partition(batches) -> "pd.DataFrame":
    """mapInPandas kernel: pack a whole sorted partition, carrying the
    trailing (possibly incomplete) (shard, term_id) run across Arrow batch
    boundaries so runs split by batching are packed once."""

    def emit(frame: pd.DataFrame) -> pd.DataFrame:
        pos = (
            frame["positions"].to_numpy()
            if "positions" in frame.columns
            else None
        )
        return _pack_runs(
            frame["shard"].to_numpy(),
            frame["term_id"].to_numpy(),
            frame["doc_id"].to_numpy(),
            frame["tf"].to_numpy(),
            positions=pos,
        )

    carry: pd.DataFrame | None = None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        last_shard = pdf["shard"].iloc[-1]
        last_tid = pdf["term_id"].iloc[-1]
        tail_mask = (pdf["shard"] == last_shard) & (pdf["term_id"] == last_tid)
        # tail is contiguous at the end because the partition is sorted
        n_tail = int(tail_mask.to_numpy()[::-1].argmin()) or len(pdf)
        if n_tail == len(pdf):
            carry = pdf
            continue
        head = pdf.iloc[: len(pdf) - n_tail]
        carry = pdf.iloc[len(pdf) - n_tail :]
        yield emit(head)
    if carry is not None and len(carry):
        yield emit(carry)


def pack_postings(
    tf_with_ids: DataFrame,
    partitions: int | None = None,
    already_partitioned: bool = False,
    with_positions: bool = False,
    presorted: bool = False,
) -> DataFrame:
    """(doc_id, term_id, tf, shard) -> packed posting blocks.

    One shuffle (repartition by shard) + in-partition sort, then a
    partition-level vectorized packer.  Head terms cannot straggle: a term's
    postings are bounded per shard by docs_per_shard, and a whole shard is
    one task's worth of sorted input, not one groupBy group per term.

    ``already_partitioned=True`` skips the repartition when the input is
    already hash-partitioned by ``shard`` (e.g. the build persists tf
    shard-partitioned so stage 2 is shuffle-free).

    ``presorted=True`` additionally skips the in-partition sort: the caller
    guarantees every (shard, term_id) run is already contiguous and
    doc-ascending within each partition (the fused build writes its tf spill
    shuffled + sorted, and parquet read-back of whole files preserves row
    order).  This keeps the packer input on the columnar fast path — no
    Tungsten row sort, no shuffle-row -> Arrow conversion (measured: the
    row-path reduce burned ~10x the packer's own CPU in JVM sort + row
    conversion).
    """
    cols = ["shard", "term_id", "doc_id", "tf"] + (
        ["positions"] if with_positions else []
    )
    src = tf_with_ids.select(*cols)
    if not already_partitioned:
        src = (
            src.repartition(partitions, "shard")
            if partitions
            else src.repartition("shard")
        )
    arranged = (
        src if presorted
        else src.sortWithinPartitions("shard", "term_id", "doc_id")
    )
    return arranged.mapInPandas(
        _pack_partition,
        schema=POSTINGS_POS_SCHEMA if with_positions else POSTINGS_SCHEMA,
    )


def _merge_pack_run_rows(frame: pd.DataFrame, with_positions: bool) -> pd.DataFrame:
    """Decode a batch of packed SPIMI run rows, merge-sort the postings of
    each (shard, term_id) group by doc_id, and emit final posting blocks via
    :func:`_pack_runs` — the "sort-merge posting-list merge" of the SPIMI
    design, fully vectorized (one varint decode per column for the whole
    batch, one segmented cumsum, one lexsort).  Requires every
    (shard, term_id) group to be contiguous in ``frame`` (the caller sorts
    run rows by (shard, term[, first_doc]) and carries split groups across
    batch boundaries)."""
    from ..codec import varint_decode

    counts = frame["n_docs"].to_numpy().astype(np.int64)
    gaps = varint_decode(
        b"".join(bytes(b) for b in frame["doc_deltas"])
    ).astype(np.int64)
    tfs = varint_decode(
        b"".join(bytes(b) for b in frame["tfs"])
    ).astype(np.int64)
    # segmented absolute ids (a run's first gap is its absolute first doc)
    c = np.cumsum(gaps)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    base = np.where(starts > 0, c[starts - 1], 0)
    ids = c - np.repeat(base, counts)
    r_shard = frame["shard"].to_numpy().astype(np.int64)
    r_tid = frame["term_id"].to_numpy().astype(np.int64)
    # group index per run row: consecutive rows with equal (shard, term_id)
    nr = len(frame)
    new_grp = np.empty(nr, dtype=bool)
    new_grp[0] = True
    new_grp[1:] = (r_tid[1:] != r_tid[:-1]) | (r_shard[1:] != r_shard[:-1])
    grp = np.cumsum(new_grp) - 1
    e_grp = np.repeat(grp, counts)
    e_shard = np.repeat(r_shard, counts)
    e_tid = np.repeat(r_tid, counts)
    # merge: runs of one group cover interleaved doc ranges (they came from
    # different map partitions), so order entries by (group, doc)
    order = np.lexsort((ids, e_grp))
    positions = None
    if with_positions:
        pos_all = unpack_positions(
            b"".join(bytes(b) for b in frame["pos_data"]), tfs
        )
        positions = np.empty(len(pos_all), dtype=object)
        for i, a in enumerate(pos_all):
            positions[i] = a
        positions = positions[order]
    return _pack_runs(
        e_shard[order], e_tid[order], ids[order], tfs[order],
        positions=positions,
    )


def _pack_runs_partition(with_positions: bool):
    """mapInPandas kernel factory over packed run rows: carries the trailing
    (shard, term_id) group across Arrow batch boundaries (same contract as
    :func:`_pack_partition`)."""

    def _kernel(batches) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            last_shard = pdf["shard"].iloc[-1]
            last_tid = pdf["term_id"].iloc[-1]
            tail_mask = (
                (pdf["shard"] == last_shard) & (pdf["term_id"] == last_tid)
            )
            n_tail = int(tail_mask.to_numpy()[::-1].argmin()) or len(pdf)
            if n_tail == len(pdf):
                carry = pdf
                continue
            head = pdf.iloc[: len(pdf) - n_tail]
            carry = pdf.iloc[len(pdf) - n_tail :]
            yield _merge_pack_run_rows(head, with_positions)
        if carry is not None and len(carry):
            yield _merge_pack_run_rows(carry, with_positions)

    return _kernel


def pack_posting_runs(
    runs_with_ids: DataFrame,
    with_positions: bool = False,
    presorted: bool = True,
    partitions: int | None = None,
) -> DataFrame:
    """Packed SPIMI run rows (shard, term_id, first_doc, n_docs, doc_deltas,
    tfs[, pos_data]) -> final posting blocks, byte-identical to
    ``pack_postings`` over the equivalent posting rows.

    ``presorted=True`` (the fused-build fast path): the input is already
    hash-partitioned by ``shard`` with every (shard, term_id) group
    contiguous (spill sorted by (shard, term, first_doc); term_id is the
    term's sorted rank, so the order survives the dictionary join) — the
    packer is map-only.  Otherwise one small shuffle of run rows + an
    in-partition sort restores the contract (still ~10x fewer rows than a
    posting-row shuffle)."""
    cols = ["shard", "term_id", "first_doc", "n_docs", "doc_deltas", "tfs"] + (
        ["pos_data"] if with_positions else []
    )
    src = runs_with_ids.select(*cols)
    if not presorted:
        src = (
            src.repartition(partitions, "shard")
            if partitions
            else src.repartition("shard")
        ).sortWithinPartitions("shard", "term_id", "first_doc")
    return src.mapInPandas(
        _pack_runs_partition(with_positions),
        schema=POSTINGS_POS_SCHEMA if with_positions else POSTINGS_SCHEMA,
    )


DECODED_SCHEMA = StructType(
    [
        StructField("term_id", LongType(), False),
        StructField("doc_id", LongType(), False),
        StructField("tf", LongType(), False),
    ]
)

DECODED_POS_SCHEMA = StructType(
    DECODED_SCHEMA.fields
    + [StructField("positions", ArrayType(LongType()), False)]
)


def decode_postings(blocks: DataFrame, with_positions: bool = False) -> DataFrame:
    """Inverse of pack_postings -> (term_id, doc_id, tf[, positions]).  Used
    by tests, ADD/REMOVE repacks (E1-E3) and the orphan-consistency check
    (E5).  ``with_positions=True`` additionally decodes each posting's
    occurrence-position array so a positional index survives a repack
    round-trip (the payload-carrying CSR surgery analogue,
    io/DefaultInvertedIndex.java:472-510)."""

    def _unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..codec import varint_decode

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # whole-batch decode: varint is per-value independent, so the
            # concatenation of the rows' buffers decodes to the concatenation
            # of their values — one decode per column per Arrow batch, no
            # per-block Python loop (this sits on the REMOVE/compact hot
            # path; a 128-posting block is far too little work per loop trip)
            gap_bufs = [bytes(b) for b in pdf["doc_gaps"]]
            blob = b"".join(gap_bufs)
            raw = np.frombuffer(blob, dtype=np.uint8)
            gaps = varint_decode(blob).astype(np.int64)
            tfs = varint_decode(b"".join(bytes(b) for b in pdf["tfs"]))
            tfs = tfs.astype(np.int64)
            # postings per block = terminator bytes per doc_gaps buffer
            ends = np.cumsum(
                np.fromiter((len(b) for b in gap_bufs), np.int64, len(gap_bufs))
            )
            cum_end = np.cumsum((raw & 0x80) == 0)
            counts = np.diff(np.concatenate([[0], cum_end[ends - 1]]))
            # segmented delta-decode: global cumsum, minus each block's
            # preceding prefix (a block's first gap is its absolute first id).
            # int64 headroom: the running sum is bounded by (rows per Arrow
            # batch, ~10^4) x max doc_id (< 2^40 at the 10^12-doc design
            # point) ~ 2^53, far under 2^63
            c = np.cumsum(gaps)
            starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
            base = np.where(starts > 0, c[starts - 1], 0)
            doc_ids = c - np.repeat(base, counts)
            cols = {
                "term_id": np.repeat(
                    pdf["term_id"].to_numpy(np.int64), counts
                ),
                "doc_id": doc_ids,
                "tf": tfs,
            }
            if with_positions:
                # per-posting runs are delimited by tf regardless of block
                # boundaries, so one segmented decode covers the whole batch
                cols["positions"] = unpack_positions(
                    b"".join(bytes(b) for b in pdf["pos_data"]), tfs
                )
            yield pd.DataFrame(cols)

    cols = ["term_id", "doc_gaps", "tfs"] + (
        ["pos_data"] if with_positions else []
    )
    return blocks.select(*cols).mapInPandas(
        _unpack, schema=DECODED_POS_SCHEMA if with_positions else DECODED_SCHEMA
    )


def unpack_positions(pos_data: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Inverse of the pos_data packing: per-doc ascending position arrays.
    ``tfs`` delimits the per-doc runs (tf == number of positions)."""
    from ..codec import varint_decode

    gaps = varint_decode(pos_data).astype(np.int64)
    counts = np.asarray(tfs, dtype=np.int64)
    starts = np.zeros(counts.size + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    if gaps.size == 0:
        return [np.empty(0, dtype=np.int64) for _ in range(counts.size)]
    c = np.cumsum(gaps)
    seg = np.zeros(gaps.size, dtype=np.int64)
    seg[starts[1:-1]] = 1
    seg = np.cumsum(seg)
    base = (c[starts[:-1]] - gaps[starts[:-1]])[seg]
    absolute = c - base
    return np.split(absolute, starts[1:-1])
