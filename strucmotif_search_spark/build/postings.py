"""SPIMI posting construction + block packing.

Reference analogues:
- stage 1 (map): per-doc tokenize + tf extraction = the per-doc work in
  StrucmotifUpdate.handleUpdateItem (update/StrucmotifUpdate.java:327-373),
  expressed as mapInPandas over the source table (tokenizer.packed_term_runs);
- the shuffle: the reference's per-thread per-term-prefix partial files
  (update/Context.java:50-73) are Spark's shuffle made explicit — we group by
  (shard, term_id) where ``shard`` is the doc-range partition;
- stage 2 (merge + encode): DefaultInvertedIndex.commit's fold-and-encode
  (io/DefaultInvertedIndex.java:120-239) becomes one partition-level merge
  (:func:`_merge_pack_run_rows`) that sorts each (shard, term) group's
  runs by doc_id and packs delta-gap varint blocks with skip metadata
  (north_rule upgrade over the reference's absolute-id varints,
  io/codec/ColferCodec.java:101-133).  As in the reference, build and
  update share it: a posting block is a run, so ADD, REMOVE and compact
  feed it the old blocks (:func:`blocks_as_runs`) plus an ADD's new runs,
  minus a REMOVE's victims.

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
from pyspark.sql import functions as F
from pyspark.sql.types import (
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


def _carry_runs(batches, emit) -> Iterator:
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


# the posting-block column each SPIMI run column reads: a block is a run
# of its postings (codec.py), so every repack merges old blocks as runs
BLOCK_COLUMN = {"first_doc": "first_doc_id", "doc_deltas": "doc_gaps"}


def run_columns(with_positions: bool) -> list[str]:
    """The SPIMI run columns :func:`_merge_pack_run_rows` reads."""
    return ["shard", "term_id", "first_doc", "n_docs", "doc_deltas", "tfs"] + (
        ["pos_data"] if with_positions else []
    )


def blocks_as_runs(blocks: DataFrame, with_positions: bool) -> DataFrame:
    """Posting blocks -> SPIMI run rows (the same payloads, renamed)."""
    return blocks.select(*[
        F.col(BLOCK_COLUMN.get(c, c)).alias(c)
        for c in run_columns(with_positions)
    ])


def _merge_pack_run_rows(
    frame: pd.DataFrame, with_positions: bool, drop: np.ndarray | None = None
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Decode a batch of packed SPIMI run rows, merge-sort the postings of
    each (shard, term_id) group by doc_id, and emit final posting blocks via
    :func:`_pack_runs` — the "sort-merge posting-list merge" of the SPIMI
    design, fully vectorized (one varint decode per column for the whole
    batch, one segmented cumsum, one lexsort).  Requires every
    (shard, term_id) group to be contiguous in ``frame`` (the caller sorts
    run rows by (shard, term[, first_doc]) and carries split groups across
    batch boundaries).

    The runs are the build's map output, or old posting blocks plus an
    ADD's new runs.  The postings of the doc ids in ``drop`` (a REMOVE's
    victims) are left out.  Returns the blocks and the left-out postings'
    ``(term_id, tf)``, from which a REMOVE takes its df/cf decrement."""
    counts = frame["n_docs"].to_numpy()
    ids, counts = decode_segments(frame["doc_deltas"], counts, delta=True)
    tfs, _ = decode_segments(frame["tfs"], counts)
    # group index per run row: consecutive rows with equal (shard, term_id)
    r_shard = frame["shard"].to_numpy().astype(np.int64)
    r_tid = frame["term_id"].to_numpy().astype(np.int64)
    new_grp = np.zeros(len(frame), dtype=np.int64)
    new_grp[segment_starts(r_tid, r_shard)] = 1
    e_grp = np.repeat(np.cumsum(new_grp), counts)
    e_tid = np.repeat(r_tid, counts)
    # merge: runs of one group cover interleaved doc ranges (they came from
    # different map partitions), so order entries by (group, doc)
    order = np.lexsort((ids, e_grp))
    gone = np.zeros(ids.size, dtype=bool)
    if drop is not None:
        gone = np.isin(ids, drop)
        order = order[~gone[order]]
    positions = None
    if with_positions:
        pos, _ = decode_segments(frame["pos_data"])
        positions = gather_segments(undelta(pos, tfs), tfs, order)
    blocks = _pack_runs(
        np.repeat(r_shard, counts)[order], e_tid[order], ids[order],
        tfs[order], positions=positions,
    )
    return blocks, pd.DataFrame({"term_id": e_tid[gone], "tf": tfs[gone]})


def _pack_runs_partition(with_positions: bool, drop: np.ndarray | None):
    """mapInPandas kernel factory over packed run rows sorted by
    (shard, term_id): each (shard, term_id) group merged and packed once."""

    def _kernel(batches) -> Iterator[pd.DataFrame]:
        return _carry_runs(
            batches,
            lambda f: _merge_pack_run_rows(f, with_positions, drop)[0],
        )

    return _kernel


def pack_posting_runs(
    runs_with_ids: DataFrame,
    with_positions: bool = False,
    presorted: bool = True,
    partitions: int | None = None,
    drop: np.ndarray | None = None,
) -> DataFrame:
    """Packed SPIMI run rows (:func:`run_columns`) -> final posting blocks,
    byte-identical to :func:`_pack_runs` over the equivalent sorted posting
    rows, minus the postings of the doc ids in ``drop``.

    ``presorted=True`` (the fused-build fast path): the input is already
    hash-partitioned by ``shard`` with every (shard, term_id) group
    contiguous (spill sorted by (shard, term, first_doc); term_id is the
    term's sorted rank, so the order survives the dictionary join) — the
    packer is map-only.  Otherwise (every repack) one small shuffle of run
    rows + an in-partition sort restores the contract (still ~10x fewer
    rows than a posting-row shuffle)."""
    src = runs_with_ids.select(*run_columns(with_positions))
    if not presorted:
        src = (
            src.repartition(partitions, "shard")
            if partitions
            else src.repartition("shard")
        ).sortWithinPartitions("shard", "term_id", "first_doc")
    return src.mapInPandas(
        _pack_runs_partition(with_positions, drop),
        schema=POSTINGS_POS_SCHEMA if with_positions else POSTINGS_SCHEMA,
    )


DECODED_SCHEMA = StructType(
    [
        StructField("term_id", LongType(), False),
        StructField("doc_id", LongType(), False),
        StructField("tf", LongType(), False),
    ]
)


def decode_blocks(pdf: pd.DataFrame) -> pd.DataFrame:
    """Decode a frame of posting blocks (``term_id``, ``doc_gaps``,
    ``tfs``) -> one row per posting (term_id, doc_id, tf), in block
    order: the kernel under :func:`decode_postings`."""
    # whole-frame decode: one decode per column, no per-block Python loop
    doc_ids, counts = decode_segments(pdf["doc_gaps"], delta=True)
    tfs, _ = decode_segments(pdf["tfs"], counts)
    return pd.DataFrame({
        "term_id": np.repeat(pdf["term_id"].to_numpy(np.int64), counts),
        "doc_id": doc_ids,
        "tf": tfs,
    })


def decode_postings(blocks: DataFrame) -> DataFrame:
    """Posting blocks -> (term_id, doc_id, tf) rows, for the reads that
    need postings as rows: term vectors, ``query/analytics.py``, the Spark
    arm's REMOVE df/cf decrement and the orphan-consistency check (E5)."""

    def _unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield decode_blocks(pdf)

    return blocks.select("term_id", "doc_gaps", "tfs").mapInPandas(
        _unpack, schema=DECODED_SCHEMA
    )


def unpack_positions(pos_data: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Inverse of the pos_data packing: per-doc ascending position arrays.
    ``tfs`` delimits the per-doc runs (tf == number of positions)."""
    tfs = np.asarray(tfs, dtype=np.int64)
    if tfs.size == 0:
        return []
    gaps, _ = decode_segments([pos_data])
    return np.split(undelta(gaps, tfs), offsets(tfs)[1:-1])
