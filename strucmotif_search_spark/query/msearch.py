"""Multi-query batch search — N BM25 queries answered in ONE index pass.

The reference's batch shape is ``detectMotifs``: one pass over targets
evaluated against a library of stored motifs (core/DefaultStrucmotifRuntime
batch entry; the engine's ``classify`` operator is that direction — library
against DOCUMENTS).  ``msearch`` is the inverse batch over the INDEX: a set
of ad-hoc queries answered together, amortizing the posting scan — at
10^12-doc scale the scan + shuffle dominate a single query's cost, so a
dashboard firing 50 queries must not pay 50 scans.

Plan shape (the DAAT shard kernel, query/daat.py — one job, no per-query
loop on the driver):

  postings.where(term_id IN union-of-all-query-terms)   <- ONE pushed-down scan
    -> cogroup by shard with the engine's cached bucketed norms
                                        <- ONE cogroup-pandas task per shard
       -> per query: that query's ``_make_scorer`` shard top-k
                                           (a term shared by queries is
                                           decoded by each that reads it)
       -> rows tagged with query_id, concatenated
    -> per-query top-k via Window row_number             (one shuffle on qid)

Each query is scored by the same kernel ``search`` runs (ascending-gkey
summation, boundary-tie shard heaps, score desc / doc_id asc ties), so each
query's slice of the result is bitwise-identical to running it alone —
tests assert equality against ``search`` and the numpy oracle.  Doc lengths
come from the norms rows in the cogroup; the doc dictionary is never read.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .daat import _make_scorer, _posting_blocks, _score_shards
from .planner import QueryPlan

_SCHEMA = "query_id string, doc_id long, score double"


def msearch_topk(
    spark: SparkSession,
    postings: DataFrame,
    norms: DataFrame,
    plans: dict[str, QueryPlan],
    docs_per_shard: int,
    k: int = 10,
    mode: str = "or",
) -> DataFrame:
    """Top-k per query: (query_id, doc_id, score), deterministic order
    within each query (score desc, doc_id asc).  ``plans`` maps query_id ->
    resolved QueryPlan; empty-OR plans contribute no rows, and AND-mode
    plans with an absent group are excluded driver-side (same early-exit as
    the single-query paths).  ``norms`` is the engine's bucketed norms."""
    live = {
        qid: p for qid, p in plans.items()
        if not p.empty_or and not (mode == "and" and p.empty_and)
    }
    if not live:
        return spark.createDataFrame([], _SCHEMA)
    scorers = {
        qid: _make_scorer(p, docs_per_shard, k, mode)
        for qid, p in live.items()
    }
    term_ids = sorted(
        {tid for p in live.values() for g in p.groups for tid in g.member_ids}
    )

    def score_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return pd.concat(
            [
                scorer(left, right).assign(query_id=qid)
                for qid, scorer in scorers.items()
            ],
            ignore_index=True,
        )[["query_id", "doc_id", "score"]]

    scored = _score_shards(
        _posting_blocks(postings, term_ids), norms, score_shard, _SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score")
    )
