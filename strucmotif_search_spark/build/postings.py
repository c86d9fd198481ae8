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
bound input for WAND.  The byte layout of ``doc_gaps`` / ``tfs`` /
``pos_data`` is described, encoded and decoded in ``codec.py`` alone.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..codec import (
    decode_segments,
    encode_segments,
    gather_segments,
    offsets,
    segment_starts,
    undelta,
)

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

# positional flavor: per block, its postings' token ordinals (``pos_data``,
# see codec.py) — the occurrence-payload analogue of
# ArrayBucket.identifierData (ArrayBucket.java:34)
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
    """Vectorized block packing of rows sorted by (shard, term_id, doc_id);
    ``positions`` is every posting's ordinals flat in posting order (tf
    values each).

    Zero per-posting Python: run/block boundaries are detected with array
    ops, per-block maxima come from ``np.maximum.reduceat``, and each
    payload column is encoded in one :func:`encode_segments` call.  The
    only Python loop is over *blocks* (<=1 per 128 postings) doing a bytes
    slice.
    """
    n = ids.size
    out_schema = POSTINGS_POS_SCHEMA if positions is not None else POSTINGS_SCHEMA
    if n == 0:
        return pd.DataFrame(
            {f.name: pd.Series(dtype="object") for f in out_schema.fields}
        )
    run_first = segment_starts(tid, shard)
    idx_in_run = np.arange(n) - np.repeat(
        run_first, np.diff(np.append(run_first, n))
    )
    bstart = np.flatnonzero((idx_in_run % BLOCK_DOCS) == 0)
    bend = np.append(bstart[1:], n)
    # block_id within each (shard, term) run
    block_id = (idx_in_run[bstart] // BLOCK_DOCS).astype(np.int32)
    cols = {
        "shard": shard[bstart].astype(np.int32),
        "term_id": tid[bstart].astype(np.int64),
        "block_id": block_id,
        "first_doc_id": ids[bstart].astype(np.int64),
        "max_doc_id": ids[bend - 1].astype(np.int64),
        "n_docs": (bend - bstart).astype(np.int32),
        "block_max_tf": np.maximum.reduceat(tfs, bstart).astype(np.int32),
        "doc_gaps": encode_segments(ids, bstart, restarts=bstart),
        "tfs": encode_segments(tfs, bstart),
    }
    if positions is not None:
        pstarts = offsets(tfs)
        cols["pos_data"] = encode_segments(
            positions, pstarts[bstart], restarts=pstarts[:-1]
        )
    return pd.DataFrame(cols)


def _carry_runs(batches, emit) -> Iterator[pd.DataFrame]:
    """Yield ``emit(frame)`` over the Arrow batches of a partition sorted
    by (shard, term_id), carrying the trailing (possibly incomplete)
    (shard, term_id) run across batch boundaries so a run split by
    batching reaches ``emit`` whole."""
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


def _pack_rows(frame: pd.DataFrame) -> pd.DataFrame:
    """Pack a frame of whole (shard, term_id) posting-row runs."""
    pos = (
        np.concatenate(frame["positions"].to_numpy()).astype(np.int64)
        if "positions" in frame.columns else None
    )
    return _pack_runs(
        frame["shard"].to_numpy(),
        frame["term_id"].to_numpy(),
        frame["doc_id"].to_numpy(),
        frame["tf"].to_numpy(),
        positions=pos,
    )


def _pack_partition(batches) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: pack a whole sorted partition of posting rows,
    each (shard, term_id) run once."""
    return _carry_runs(batches, _pack_rows)


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
    counts = frame["n_docs"].to_numpy()
    ids, counts = decode_segments(frame["doc_deltas"], counts, delta=True)
    tfs, _ = decode_segments(frame["tfs"], counts)
    # group index per run row: consecutive rows with equal (shard, term_id)
    r_shard = frame["shard"].to_numpy().astype(np.int64)
    r_tid = frame["term_id"].to_numpy().astype(np.int64)
    new_grp = np.zeros(len(frame), dtype=np.int64)
    new_grp[segment_starts(r_tid, r_shard)] = 1
    e_grp = np.repeat(np.cumsum(new_grp), counts)
    # merge: runs of one group cover interleaved doc ranges (they came from
    # different map partitions), so order entries by (group, doc)
    order = np.lexsort((ids, e_grp))
    positions = None
    if with_positions:
        pos, _ = decode_segments(frame["pos_data"])
        positions = gather_segments(undelta(pos, tfs), tfs, order)
    return _pack_runs(
        np.repeat(r_shard, counts)[order], np.repeat(r_tid, counts)[order],
        ids[order], tfs[order], positions=positions,
    )


def _pack_runs_partition(with_positions: bool):
    """mapInPandas kernel factory over packed run rows sorted by
    (shard, term_id): each (shard, term_id) group merged and packed once."""

    def _kernel(batches) -> Iterator[pd.DataFrame]:
        return _carry_runs(
            batches, lambda f: _merge_pack_run_rows(f, with_positions)
        )

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


def decode_blocks(pdf: pd.DataFrame, with_positions: bool = False) -> pd.DataFrame:
    """Decode a frame of posting blocks (``term_id``, ``doc_gaps``,
    ``tfs``[, ``pos_data``]) -> one row per posting (term_id, doc_id,
    tf[, positions]), in block order.  The kernel under
    :func:`decode_postings` and the driver-side commit arm
    (streaming/local_commit.py)."""
    # whole-frame decode: one decode per column, no per-block Python loop
    # (this sits on the REMOVE/compact hot path; a 128-posting block is far
    # too little work per loop trip)
    doc_ids, counts = decode_segments(pdf["doc_gaps"], delta=True)
    tfs, _ = decode_segments(pdf["tfs"], counts)
    cols = {
        "term_id": np.repeat(pdf["term_id"].to_numpy(np.int64), counts),
        "doc_id": doc_ids,
        "tf": tfs,
    }
    if with_positions:
        # per-posting runs are delimited by tf regardless of block
        # boundaries, so one segmented decode covers the whole frame
        cols["positions"] = unpack_positions(b"".join(pdf["pos_data"]), tfs)
    return pd.DataFrame(cols)


def decode_postings(blocks: DataFrame, with_positions: bool = False) -> DataFrame:
    """Inverse of pack_postings -> (term_id, doc_id, tf[, positions]).  Used
    by tests, ADD/REMOVE repacks (E1-E3) and the orphan-consistency check
    (E5).  ``with_positions=True`` additionally decodes each posting's
    occurrence-position array so a positional index survives a repack
    round-trip (the payload-carrying CSR surgery analogue,
    io/DefaultInvertedIndex.java:472-510)."""

    def _unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield decode_blocks(pdf, with_positions)

    cols = ["term_id", "doc_gaps", "tfs"] + (
        ["pos_data"] if with_positions else []
    )
    return blocks.select(*cols).mapInPandas(
        _unpack, schema=DECODED_POS_SCHEMA if with_positions else DECODED_SCHEMA
    )


def unpack_positions(pos_data: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Inverse of the pos_data packing: per-doc ascending position arrays.
    ``tfs`` delimits the per-doc runs (tf == number of positions)."""
    tfs = np.asarray(tfs, dtype=np.int64)
    if tfs.size == 0:
        return []
    gaps, _ = decode_segments([pos_data])
    return np.split(undelta(gaps, tfs), offsets(tfs)[1:-1])
