"""Phrase (positional) queries — the engine's analogue of the reference's
positional theta-join.

The reference's distinctive query operator extends candidate paths by a
Cartesian product of position payloads filtered on a positional-overlap
pattern (TargetStructure.consume, domain/result/TargetStructure.java:78-111;
overlap classification domain/motif/Overlap.java:41-81).  For text, the same
shape is the classic phrase query: a doc matches iff the query terms occur at
CONSECUTIVE positions, i.e. the intersection over i of
(positions(term_i) - i) is non-empty — a positional equi-join on the shifted
occurrence lists.

Execution, per shard (cogroup task), in two phases that mirror the
reference's progressive candidate narrowing (DefaultTargetAssembler
.java:92-111,227-239):

1. **Doc-id narrowing, rarest term first.**  Terms are processed in
   df-ascending order; each term's posting blocks are decoded ONLY when
   their ``[first_doc_id, max_doc_id]`` skip range can still contain a
   surviving candidate, and the candidate set is intersected after each
   term.  A phrase containing a head term (``import``, ``the``) therefore
   decodes a handful of that term's blocks — the ones overlapping the rare
   term's few docs — instead of its near-full posting list.
2. **Position intersection over survivors only.**  Each phrase slot's
   surviving blocks contribute ``doc_id * 2^22 + (position - slot)`` keys
   for candidate docs only; slots are intersected with ``np.intersect1d``
   — fully vectorized, no per-doc loop.  Match count per doc = phrase term
   frequency.

Global result: ``orderBy(phrase_tf desc, doc_id asc).limit(k)``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..build.postings import unpack_positions
from ..codec import unpack_block
from ..oracle import tokenize
from ..session import local_frame
from .planner import VocabLookup

_RESULT = "doc_id long, phrase_tf long"
_POS_CAP = 1 << 22  # max positions per doc supported by the packed key
# the posting-block columns both positional kernels read
_POS_BLOCK_COLS = (
    "shard", "term_id", "first_doc_id", "max_doc_id", "doc_gaps", "tfs",
    "pos_data",
)


def _empty() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": [], "phrase_tf": []}).astype(
        {"doc_id": "int64", "phrase_tf": "int64"}
    )


def _narrow(
    pdf: pd.DataFrame, order_tids: list[int]
) -> tuple[np.ndarray, dict[int, list], int]:
    """Phase 1 of a shard's positional query: doc-id narrowing over
    ``order_tids`` (rarest first), decoding a block only when its
    ``[first_doc_id, max_doc_id]`` range can still hold a candidate.
    Returns ``(cand, kept, n_decoded)``: the sorted unique doc ids holding
    every term (empty when none), each term's decoded blocks that hold a
    candidate as ``tid -> [(ids, tfs, pos_bytes), ...]``, and the number of
    blocks decoded."""
    no_docs = np.zeros(0, dtype=np.int64)
    by_tid = {int(t): g for t, g in pdf.groupby("term_id", sort=False)}
    if any(tid not in by_tid for tid in order_tids):
        return no_docs, {}, 0  # a term with no postings here -> no match
    n_decoded = 0
    cand: np.ndarray | None = None  # sorted unique candidate doc_ids
    kept: dict[int, list] = {}
    for tid in order_tids:
        g = by_tid[tid].sort_values("first_doc_id")
        rows_kept: list = []
        docs_l: list = []
        for row in g.itertuples(index=False):
            if cand is not None:
                # block skip: no candidate falls in [first, max]
                j = int(np.searchsorted(cand, row.first_doc_id))
                if j >= cand.size or cand[j] > row.max_doc_id:
                    continue
            ids, tfs = unpack_block(bytes(row.doc_gaps), bytes(row.tfs))
            n_decoded += 1
            if cand is not None:
                m = np.isin(ids, cand, assume_unique=True)
                if not m.any():
                    continue
                docs_l.append(ids[m])
            else:
                docs_l.append(ids)
            rows_kept.append((ids, tfs, row.pos_data))
        if not docs_l:
            return no_docs, kept, n_decoded
        # blocks of one (shard, term) run are doc-ascending + disjoint,
        # so the concat is already sorted unique
        term_docs = np.concatenate(docs_l)
        cand = (
            term_docs if cand is None
            else cand[np.isin(cand, term_docs, assume_unique=True)]
        )
        if cand.size == 0:
            return cand, kept, n_decoded
        kept[tid] = rows_kept
    return cand, kept, n_decoded


def phrase_topk(
    spark: SparkSession,
    postings: DataFrame,
    vocab_lookup: VocabLookup,
    phrase: str,
    k: int = 10,
    decoded_blocks_acc=None,
) -> DataFrame:
    """Top-k docs containing the exact token sequence of ``phrase``, ranked
    by occurrence count (ties -> ascending doc_id).  ``vocab_lookup`` is
    the engine's vocabulary cache (``SearchEngine._vocab_lookup``), so the
    query launches one Spark job, the scoring one.

    ``decoded_blocks_acc``: optional Spark accumulator incremented by the
    number of posting blocks actually payload-decoded — instrumentation for
    the skip-pointer effectiveness (tests/bench evidence).
    """
    seq = tokenize(phrase)
    if not seq:
        return local_frame(spark, [], _RESULT)
    if len(seq) > 64:
        # the packed key's +64 bias keeps (pos - slot) non-negative only
        # for slot indexes <= 64; a longer phrase would underflow slot
        # keys into the previous doc's range and silently merge documents
        raise ValueError(
            f"phrase length {len(seq)} exceeds the packed-key slot "
            "capacity (64 tokens); split the phrase or widen the key"
        )
    lookup = vocab_lookup(sorted(set(seq)))
    if any(t not in lookup for t in seq):  # absent term -> empty (O5 analogue)
        return local_frame(spark, [], _RESULT)
    slots = [(i, lookup[t][0]) for i, t in enumerate(seq)]
    # narrowing order: df ascending (rarest first), term_id tie-break
    order_tids = [
        tid for tid, _df in sorted(
            {lookup[t] for t in seq}, key=lambda p: (p[1], p[0])
        )
    ]
    tids = sorted({tid for _, tid in slots})

    blocks = postings.where(F.col("term_id").isin(tids)).select(
        *_POS_BLOCK_COLS
    )

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        # --- phase 1: doc-id narrowing, rarest first, skip by block range ---
        cand, kept, n_decoded = _narrow(pdf, order_tids)

        def done(out: pd.DataFrame) -> pd.DataFrame:
            if decoded_blocks_acc is not None:
                decoded_blocks_acc.add(n_decoded)
            return out

        if cand.size == 0:
            return done(_empty())

        # --- phase 2: positional intersection over surviving docs only ---
        keys: np.ndarray | None = None
        for slot, tid in slots:
            parts: list = []
            for ids, tfs, pos_bytes in kept[tid]:
                m = np.isin(ids, cand, assume_unique=True)
                sel = np.flatnonzero(m)
                if sel.size == 0:
                    continue
                plists = unpack_positions(bytes(pos_bytes), tfs)
                n_decoded += 1
                d = np.repeat(ids[sel], tfs[sel])
                # sel is non-empty here (the continue above guards it)
                pos = np.concatenate([plists[j] for j in sel])
                if pos.size and int(pos.max()) >= _POS_CAP - 64:
                    # the packed int64 key cannot represent positions beyond
                    # 2^22 - 64; corrupting keys silently would merge docs —
                    # fail loudly instead (widen the key layout to support
                    # longer documents)
                    raise ValueError(
                        f"document position {int(pos.max())} exceeds the "
                        f"packed-key position capacity {_POS_CAP - 64}"
                    )
                # +64 keeps (pos - slot) non-negative for any phrase length
                # < 64, so shifted keys cannot underflow into the previous
                # doc's range
                parts.append(d * _POS_CAP + (pos - slot) + 64)
            if not parts:
                return done(_empty())
            kk = np.concatenate(parts)
            keys = kk if keys is None else np.intersect1d(keys, kk)
            if keys.size == 0:
                return done(_empty())
        if keys is None or keys.size == 0:
            return done(_empty())
        docs = (keys - 64) // _POS_CAP
        uniq, counts = np.unique(docs, return_counts=True)
        return done(pd.DataFrame(
            {"doc_id": uniq.astype("int64"), "phrase_tf": counts.astype("int64")}
        ))

    scored = blocks.groupBy("shard").applyInPandas(score_shard, schema=_RESULT)
    return scored.orderBy(F.desc("phrase_tf"), F.asc("doc_id")).limit(k)


_NEAR_RESULT = "doc_id long, span long"


def _empty_near() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": [], "span": []}).astype(
        {"doc_id": "int64", "span": "int64"}
    )


def near_topk(
    spark: SparkSession,
    postings: DataFrame,
    vocab_lookup: VocabLookup,
    query: str,
    window: int,
    k: int = 10,
    ordered: bool = False,
) -> DataFrame:
    """Unordered proximity (NEAR/w) query: top-k docs where ALL distinct
    query terms co-occur within a window of ``window`` token positions,
    ranked by tightest window (``span`` = minimal max-min position cover,
    ascending; ties -> ascending doc_id).

    The reference's positional theta-join generalized from exact adjacency
    (phrase) to a tolerance window — precisely its Overlap classification
    relaxation (domain/motif/Overlap.java:41-81, where candidate pairs match
    under a positional tolerance rather than equality).  Lucene analogue:
    unordered SpanNearQuery / intervals.

    ``ordered=True``: the terms must additionally appear in QUERY order
    (Lucene ordered SpanNearQuery): span = minimal ``p_last - p_first``
    over strictly-ascending position chains matching the token sequence
    (repeated tokens allowed).  Solved per doc by the classic
    minimum-window-subsequence DP over the merged position stream —
    O(P * n_slots); the unordered mode keeps the O(P) two-pointer cover.

    ``vocab_lookup`` is the engine's vocabulary cache, as for
    ``phrase_topk``.  Execution per shard (cogroup task) has the phrase
    kernel's two-phase shape: (1) the same doc-id narrowing (``_narrow``),
    rarest-term-first with posting-block skip pointers — only blocks whose
    [first_doc_id, max_doc_id] range can still contain a surviving
    candidate are payload-decoded; (2) positional
    minimal-cover-window over survivors only: per doc, the classic sorted
    two-pointer sweep over the merged (position, term) stream — O(P) per doc
    after an O(P log P) sort, P = total positions of the query terms in that
    doc.  Each shard emits its local top-k; the global
    ``orderBy(span asc, doc_id asc).limit(k)`` is Catalyst's
    TakeOrderedAndProject heap merge.
    """
    seq_tokens = tokenize(query)
    seq = sorted(set(seq_tokens))
    if not seq or window < 0:
        return local_frame(spark, [], _NEAR_RESULT)
    lookup = vocab_lookup(seq)
    if any(t not in lookup for t in seq):  # absent term -> empty conjunction
        return local_frame(spark, [], _NEAR_RESULT)
    # narrowing order: df ascending (rarest first), term_id tie-break
    order_tids = [
        tid for tid, _df in sorted(lookup.values(), key=lambda p: (p[1], p[0]))
    ]
    n_terms = len(order_tids)
    # ordered mode: slot j must match the tag (order_tids index) of the
    # j-th query token
    tag_of_tid = {tid: i for i, tid in enumerate(order_tids)}
    slot_tags = [tag_of_tid[lookup[t][0]] for t in seq_tokens]
    n_slots = len(slot_tags)

    blocks = postings.where(
        F.col("term_id").isin(sorted(order_tids))
    ).select(*_POS_BLOCK_COLS)

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        cand, kept, _ = _narrow(pdf, order_tids)
        if cand.size == 0:
            return _empty_near()

        # --- phase 2: merged (doc, pos, term-tag) stream over survivors ---
        doc_parts: list = []
        pos_parts: list = []
        tag_parts: list = []
        for ti, tid in enumerate(order_tids):
            for ids, tfs, pos_bytes in kept[tid]:
                m = np.isin(ids, cand, assume_unique=True)
                sel = np.flatnonzero(m)
                if sel.size == 0:
                    continue
                plists = unpack_positions(bytes(pos_bytes), tfs)
                doc_parts.append(np.repeat(ids[sel], tfs[sel]))
                pos_parts.append(np.concatenate([plists[j] for j in sel]))
                tag_parts.append(
                    np.full(int(tfs[sel].sum()), ti, dtype=np.int64)
                )
        docs = np.concatenate(doc_parts)
        pos = np.concatenate(pos_parts)
        tags = np.concatenate(tag_parts)
        order = np.lexsort((pos, docs))
        docs, pos, tags = docs[order], pos[order], tags[order]
        bounds = np.flatnonzero(np.diff(docs)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [docs.size]))

        out_docs: list[int] = []
        out_spans: list[int] = []
        for s, e in zip(starts.tolist(), ends.tolist()):
            p = pos[s:e]
            t = tags[s:e]
            best = -1
            if ordered:
                # minimum-window subsequence DP: dp[j] = LATEST start
                # position of a strictly-ascending chain matching slots
                # 0..j and ending at/before the current position; slots
                # scan descending so one position never fills two slots
                dp = [-1] * n_slots
                for i in range(p.size):
                    tag = int(t[i])
                    pi = int(p[i])
                    for j in range(n_slots - 1, -1, -1):
                        if slot_tags[j] != tag:
                            continue
                        if j == 0:
                            dp[0] = pi
                        elif dp[j - 1] >= 0:
                            dp[j] = dp[j - 1]
                    if dp[n_slots - 1] >= 0:
                        span = pi - dp[n_slots - 1] if (
                            slot_tags[n_slots - 1] == tag
                        ) else -1
                        if span >= 0 and (best < 0 or span < best):
                            best = span
            else:
                # two-pointer minimal cover: window [lo, hi] over the
                # sorted position stream; shrink lo while all n_terms
                # tags covered
                counts = np.zeros(n_terms, dtype=np.int64)
                covered = 0
                lo = 0
                for hi in range(p.size):
                    th = int(t[hi])
                    counts[th] += 1
                    if counts[th] == 1:
                        covered += 1
                    while covered == n_terms:
                        span = int(p[hi] - p[lo])
                        if best < 0 or span < best:
                            best = span
                        tl = int(t[lo])
                        counts[tl] -= 1
                        if counts[tl] == 0:
                            covered -= 1
                        lo += 1
            if 0 <= best <= window:
                out_docs.append(int(docs[s]))
                out_spans.append(best)
        if not out_docs:
            return _empty_near()
        d = np.asarray(out_docs, dtype=np.int64)
        sp = np.asarray(out_spans, dtype=np.int64)
        # per-shard top-k with boundary-tie retention (span asc, doc asc)
        if d.size > k:
            part = np.argpartition(sp, k - 1)
            thresh = sp[part[k - 1]]
            keep = np.flatnonzero(sp <= thresh)
            d, sp = d[keep], sp[keep]
        o = np.lexsort((d, sp))[:k]
        return pd.DataFrame({"doc_id": d[o], "span": sp[o]})

    scored = blocks.groupBy("shard").applyInPandas(
        score_shard, schema=_NEAR_RESULT
    )
    return scored.orderBy(F.asc("span"), F.asc("doc_id")).limit(k)
