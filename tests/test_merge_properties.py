"""Property test for the one posting merge (no Spark): a posting block is a
SPIMI run (codec.py), so merging old blocks and new runs, minus any victim
doc ids, must write exactly the blocks the packer writes over the sorted
surviving posting rows.

Each (shard, term_id) group's postings are dealt to the old blocks or to
a few runs, the rows of a group are shuffled, and the victims are any
subset of the doc ids; with and without positions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from strucmotif_search_spark.build.postings import (
    BLOCK_COLUMN,
    _merge_pack_run_rows,
    _pack_runs,
    run_columns,
)
from strucmotif_search_spark.codec import (
    encode_segments,
    gather_segments,
    offsets,
)

DOCS_PER_SHARD = 300  # > 2 blocks of 128, so groups span several blocks


def _postings(rng, sizes, with_positions):
    """Sorted posting rows: ``sizes[i]`` docs for (shard i // 3, term i % 3),
    tf 1-4 and (positional) tf distinct ascending ordinals each."""
    shard, tid, ids = [], [], []
    for i, n in enumerate(sizes):
        s = i // 3
        docs = np.sort(rng.choice(DOCS_PER_SHARD, n, replace=False))
        shard.append(np.full(n, s))
        tid.append(np.full(n, i % 3))
        ids.append(s * DOCS_PER_SHARD + docs)
    shard, tid, ids = (
        np.concatenate(a).astype(np.int64) for a in (shard, tid, ids)
    )
    tfs = rng.integers(1, 5, ids.size)
    positions = None
    if with_positions:
        positions = np.concatenate([
            np.sort(rng.choice(40, tf, replace=False)) for tf in tfs
        ]).astype(np.int64)
    return shard, tid, ids, tfs, positions


def _as_runs(shard, tid, ids, tfs, positions, rows: np.ndarray) -> pd.DataFrame:
    """One run row per (shard, term_id) over the postings ``rows`` (sorted)."""
    starts = np.flatnonzero(
        np.diff(np.concatenate([[-1], shard[rows] * 3 + tid[rows]])) != 0
    )
    cols = {
        "shard": shard[rows][starts].astype(np.int32),
        "term_id": tid[rows][starts],
        "first_doc": ids[rows][starts],
        "n_docs": np.diff(np.append(starts, rows.size)),
        "doc_deltas": encode_segments(ids[rows], starts, restarts=starts),
        "tfs": encode_segments(tfs[rows], starts),
    }
    if positions is not None:
        pstarts = offsets(tfs[rows])
        cols["pos_data"] = encode_segments(
            gather_segments(positions, tfs, rows), pstarts[starts],
            restarts=pstarts[:-1],
        )
    return pd.DataFrame(cols)


@settings(max_examples=120, deadline=None)
@given(
    sizes=st.lists(st.integers(1, DOCS_PER_SHARD), min_size=1, max_size=6),
    seed=st.integers(0, 2**32 - 1),
    n_runs=st.integers(0, 3),
    victim_share=st.sampled_from([0.0, 0.05, 0.5, 1.0]),
    with_positions=st.booleans(),
)
def test_merge_equals_packing_the_sorted_survivors(
    sizes, seed, n_runs, victim_share, with_positions
):
    rng = np.random.default_rng(seed)
    shard, tid, ids, tfs, positions = _postings(rng, sizes, with_positions)
    # deal each posting to the old blocks (source 0) or one of the runs
    source = rng.integers(0, n_runs + 1, ids.size)
    parts = []
    old = np.flatnonzero(source == 0)
    if old.size:
        blocks = _pack_runs(
            shard[old], tid[old], ids[old], tfs[old],
            positions=gather_segments(positions, tfs, old)
            if with_positions else None,
        )
        parts.append(blocks.rename(
            columns={b: r for r, b in BLOCK_COLUMN.items()}
        )[run_columns(with_positions)])
    for k in range(1, n_runs + 1):
        rows = np.flatnonzero(source == k)
        if rows.size:
            parts.append(_as_runs(shard, tid, ids, tfs, positions, rows))
    frame = pd.concat(parts, ignore_index=True)
    # any row order within a (shard, term_id) group; groups contiguous
    frame = frame.iloc[
        np.lexsort((rng.random(len(frame)), frame["term_id"], frame["shard"]))
    ].reset_index(drop=True)

    victims = ids[rng.random(ids.size) < victim_share]
    got, dropped = _merge_pack_run_rows(frame, with_positions, drop=victims)

    keep = ~np.isin(ids, victims)
    pos_keep = positions[np.repeat(keep, tfs)] if with_positions else None
    want = _pack_runs(
        shard[keep], tid[keep], ids[keep], tfs[keep], positions=pos_keep
    )
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True)
    )
    assert sorted(zip(dropped["term_id"], dropped["tf"])) == sorted(
        zip(tid[~keep].tolist(), tfs[~keep].tolist())
    )
