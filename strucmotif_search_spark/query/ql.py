"""Dirichlet-smoothed query-likelihood scoring (F6 alternative scorer).

The reference exposes a second scoring function alongside its primary one
(RMSD scoring vs the side-chain-aware variant, ScoringFunction enum in
core config) — the analogue for a fulltext engine is a second ranking model
over the SAME index artifacts.  This module scores the language-modeling
query likelihood with Dirichlet smoothing (Zhai & Lafferty 2001):

    score(q, d) = sum_{t in distinct(q)} ln( (tf_{t,d} + mu * cf_t / C)
                                             / (dl_d + mu) )

where C = total collection length (stats.sum_doclen) and cf_t the collection
frequency from the terms table.  Candidate set = documents containing at
least one query term (the standard Indri/Galago convention — a doc matching
nothing is never emitted); for candidates, UNMATCHED terms still contribute
their smoothing mass (tf = 0), which the dense per-shard tf arrays give for
free.  Absent-from-vocabulary terms (cf = 0 -> ln 0) are dropped at plan
time, mirroring the BM25 planner's vocabulary gate.

Execution shape is the DAAT kernel's, built from its shard code
(query/daat.py): the same pushed-down posting-block scan and bucketed-norms
cogroup (one pandas task per document shard), the same norms unpack and
per-term dense tf decode, and the same boundary-tie per-shard top-k — only
the score formula and the candidate rule live here.  No new index artifact,
no extra shuffle; Catalyst's TakeOrderedAndProject merges the shard heaps.
Summation runs in ascending term_id order (deterministic float64 order,
matching the numpy oracle bit-for-bit).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .daat import (
    _RESULT_SCHEMA,
    _empty_pdf,
    _posting_blocks,
    _score_shards,
    _shard_norms,
    _shard_topk,
    group_tf,
    term_blocks,
)

QL_MU = 2000.0  # Dirichlet prior (Zhai & Lafferty 2001 recommended range)


def ql_topk(
    spark: SparkSession,
    postings: DataFrame,
    norms: DataFrame,
    term_cfs: list[tuple[int, int]],  # (term_id, cf), present terms only
    coll_len: int,
    docs_per_shard: int,
    k: int = 10,
    mu: float = QL_MU,
) -> DataFrame:
    """Top-k (doc_id, score) under Dirichlet query likelihood.

    ``term_cfs`` lists the distinct PRESENT query terms with their exact
    collection frequencies (terms-table cf, A3); the caller drops absent
    terms.  Deterministic: ascending-term_id summation, ties doc_id asc.
    """
    if not term_cfs or coll_len <= 0:
        return local_frame(spark, [], _RESULT_SCHEMA)
    terms = sorted(term_cfs)  # ascending term_id — fixed summation order
    tids = [t for t, _ in terms]
    # smoothing mass per term: mu * P(t|C); log(dl + mu) is shared
    smooth = {tid: mu * (cf / float(coll_len)) for tid, cf in terms}

    def score_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return _empty_pdf()
        base, dense_len = _shard_norms(right, docs_per_shard)
        by_tid = term_blocks(left)
        denses: dict[int, np.ndarray] = {}
        matched = np.zeros(docs_per_shard, dtype=bool)
        for tid in tids:
            dense = group_tf(by_tid, (tid,), base, docs_per_shard)
            if dense is None:
                continue
            denses[tid] = dense
            matched |= dense > 0
        # candidates: >=1 matched term AND eligible (doclen > 0 in norms —
        # the P1-P3 predicate mask rides the same norms sidecar as BM25)
        cand = np.flatnonzero(matched & (dense_len > 0))
        dl = dense_len[cand]
        log_denom = np.log(dl + mu)
        score = np.zeros(cand.size, dtype=np.float64)
        for tid in tids:  # ascending term_id: deterministic float64 order
            tf = denses[tid][cand] if tid in denses else 0.0
            score += np.log(tf + smooth[tid]) - log_denom
        return _shard_topk(cand, score, base, k)

    scored = _score_shards(_posting_blocks(postings, tids), norms, score_shard)
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
