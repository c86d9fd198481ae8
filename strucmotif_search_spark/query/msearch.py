"""Multi-query batch search — N BM25 queries answered in ONE index pass.

The reference's batch shape is ``detectMotifs``: one pass over targets
evaluated against a library of stored motifs (core/DefaultStrucmotifRuntime
batch entry; the engine's ``classify`` operator is that direction — library
against DOCUMENTS).  ``msearch`` is the inverse batch over the INDEX: a set
of ad-hoc queries answered together, amortizing the posting scan — at
10^12-doc scale the scan + shuffle dominate a single query's cost, so a
dashboard firing 50 queries must not pay 50 scans.

Two arms run the same kernel, picked by ``daat.fits_driver`` over every
live plan's dfs (``SearchEngine.msearch``):

- the driver arm, ``msearch_topk_local``: a small batch reads the union of
  its plans' posting blocks once with pyarrow (``SearchEngine._local_blocks``)
  plus the norms of the shards they touch, runs ``daat.bm25_topk_local``
  per plan on its own terms' blocks and tags each answer with its
  query_id — no Spark job;
- the Spark arm, ``msearch_topk``: the scale path below.

Spark-arm plan shape (the DAAT shard kernel, query/daat.py — one job, no
per-query loop on the driver):

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

from ..session import local_frame
from . import daat
from .daat import _make_scorer, _posting_blocks, _score_shards, plan_mode
from .planner import QueryPlan

_SCHEMA = "query_id string, doc_id long, score double"


def live_plans(plans: dict[str, QueryPlan], mode: str) -> dict[str, QueryPlan]:
    """The plans that can have a hit: empty-OR plans and AND-mode plans
    with an absent group are answered empty driver-side (the single-query
    paths' early exits, ``daat.plan_mode``)."""
    return {
        qid: p for qid, p in plans.items() if plan_mode(p, mode) is not None
    }


def scan_ids(plans: dict[str, QueryPlan]) -> list[int]:
    """The union of the plans' member term_ids: the one posting scan."""
    return sorted(
        {tid for p in plans.values() for g in p.groups for tid in g.member_ids}
    )


def msearch_topk_local(
    blocks: pd.DataFrame,
    norms: pd.DataFrame,
    live: dict[str, QueryPlan],
    docs_per_shard: int,
    k: int = 10,
    mode: str = "or",
) -> pd.DataFrame:
    """The driver arm of ``msearch_topk``: (query_id, doc_id, score) rows,
    ordered by query_id, then score desc, doc_id asc.  ``blocks`` holds the
    ``BLOCK_COLS`` rows of ``scan_ids(live)``, ``norms`` the packed rows of
    the shards they touch; each plan is scored on its own terms' blocks,
    as ``search`` scores it alone."""
    parts = [_empty_hits()]
    for qid in sorted(live):
        plan = live[qid]
        own = blocks[blocks["term_id"].isin(scan_ids({qid: plan}))]
        hits = daat.bm25_topk_local(own, norms, plan, docs_per_shard, k, mode)
        parts.append(hits.assign(query_id=qid)[["query_id", "doc_id", "score"]])
    return pd.concat(parts, ignore_index=True)


def _empty_hits() -> pd.DataFrame:
    return pd.DataFrame({"query_id": [], "doc_id": [], "score": []}).astype(
        {"query_id": object, "doc_id": "int64", "score": "float64"}
    )


def msearch_topk(
    spark: SparkSession,
    postings: DataFrame,
    norms: DataFrame,
    live: dict[str, QueryPlan],
    docs_per_shard: int,
    k: int = 10,
    mode: str = "or",
) -> DataFrame:
    """Top-k per query: (query_id, doc_id, score), deterministic order
    within each query (score desc, doc_id asc).  ``live`` maps query_id ->
    resolved QueryPlan, for the plans ``live_plans`` keeps.  ``norms`` is
    the engine's bucketed norms."""
    if not live:
        return local_frame(spark, [], _SCHEMA)
    scorers = {
        qid: _make_scorer(p, docs_per_shard, k, mode)
        for qid, p in live.items()
    }
    term_ids = scan_ids(live)

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
