"""Multi-query batch search — N BM25 queries answered in ONE index pass.

The reference's batch shape is ``detectMotifs``: one pass over targets
evaluated against a library of stored motifs (core/DefaultStrucmotifRuntime
batch entry; the engine's ``classify`` operator is that direction — library
against DOCUMENTS).  ``msearch`` is the inverse batch over the INDEX: a set
of ad-hoc queries answered together, amortizing the posting scan — at
10^12-doc scale the scan + shuffle dominate a single query's cost, so a
dashboard firing 50 queries must not pay 50 scans.

Plan shape (pure Catalyst — one job, no per-query loop):

  postings.where(term_id IN union-of-all-query-terms)   <- ONE pushed-down scan
    -> decode blocks (Arrow kernel)
    -> broadcast join the (query_id, term_id, gkey, idf) plan table
                                        <- a term shared by queries fans out
                                           to each, dictionary-sized side
    -> groupBy(query_id, doc_id, gkey) sum tf            (A4 group union)
    -> join doclen, per-posting contribution             (JVM expression)
    -> groupBy(query_id, doc_id): ordered float64 sum + match count
    -> [AND] n_matched == that query's group count       (broadcast counts)
    -> per-query top-k via Window row_number             (one shuffle on qid)

Determinism matches the single-query contract exactly (ascending-gkey
summation, score desc / doc_id asc ties), so each query's slice of the
result is bitwise-identical to running it alone through ``search`` —
tests assert equality against the same numpy oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..build.postings import decode_postings
from .planner import QueryPlan

_EMPTY = "query_id string, doc_id long, score double"


def msearch_topk(
    spark: SparkSession,
    postings: DataFrame,
    norms_decoded: DataFrame,
    plans: dict[str, QueryPlan],
    k: int = 10,
    mode: str = "or",
) -> DataFrame:
    """Top-k per query: (query_id, doc_id, score), deterministic order
    within each query (score desc, doc_id asc).  ``plans`` maps query_id ->
    resolved QueryPlan; empty-OR plans contribute no rows, and AND-mode
    plans with an absent group are excluded driver-side (same early-exit as
    the single-query paths)."""
    live = {
        qid: p for qid, p in plans.items()
        if not p.empty_or and not (mode == "and" and p.empty_and)
    }
    if not live:
        return spark.createDataFrame([], _EMPTY)

    # driver-built plan table: one row per (query, member term) — bounded by
    # total query terms, the same dictionary class as the planner lookups
    rows = []
    for qid, p in live.items():
        idf_of = {g.key: g.idf for g in p.groups}
        for g in p.groups:
            for tid in g.member_ids:
                rows.append((qid, tid, g.key, idf_of[g.key]))
    qmap = spark.createDataFrame(
        rows, "query_id string, term_id long, gkey long, idf double"
    )
    n_groups = spark.createDataFrame(
        [(qid, len(p.groups)) for qid, p in live.items()],
        "query_id string, n_groups int",
    )

    q_ids = sorted({tid for _, tid, _, _ in rows})
    decoded = decode_postings(postings.where(F.col("term_id").isin(q_ids)))
    tagged = decoded.join(F.broadcast(qmap), on="term_id")
    grouped = tagged.groupBy("query_id", "doc_id", "gkey").agg(
        F.sum("tf").alias("tf"), F.first("idf").alias("idf")
    )
    # BM25 constants are global (k1/b/avgdl shared by every plan)
    any_plan = next(iter(live.values()))
    d = grouped.join(norms_decoded.select("doc_id", "doclen"), on="doc_id")
    contrib = (
        F.col("idf")
        * (F.col("tf") * (any_plan.k1 + 1.0))
        / (
            F.col("tf")
            + any_plan.k1
            * (
                1.0
                - any_plan.b
                + any_plan.b * F.col("doclen") / F.lit(any_plan.avgdl)
            )
        )
    )
    d = d.withColumn("contrib", contrib.cast("double"))
    per_doc = d.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("gkey", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("score"),
        F.count("*").alias("n_matched"),
    )
    if mode == "and":
        per_doc = per_doc.join(F.broadcast(n_groups), on="query_id").where(
            F.col("n_matched") == F.col("n_groups")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score")
    )
