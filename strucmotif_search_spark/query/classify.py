"""Inverted querying: classify documents against a library of stored queries.

The reference's second entry point, ``detectMotifs`` (Strucmotif.java:35-37):
one target document is indexed into a transient in-memory inverted index
(io/SingleStructureInvertedIndex.java:24-41) and every registered motif
definition (core/DefaultMotifDefinitionRegistry.java) is run against that
micro-index.  The Spark-first shape inverts the loop: the query library is a
small broadcast table of (query_id, term, idf) and the documents are the big
side — tokenize, join on term, aggregate per (doc, query).  One pass
classifies a whole table of new documents against every stored query.

Scoring uses the ENGINE's global statistics (idf/avgdl from the published
index), exactly like the reference scores motifs with its stored index's
geometry; a doc matching in 'and' semantics must contain every query term
(the conjunctive counting trick, TargetStructure.java:136-144 analogue).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import BM25_B, BM25_K1
from ..oracle import tokenize
from ..tokenizer import analyze_text, term_frequencies
from .daat import bm25_weight
from .planner import idf as _idf


def classify_documents(
    engine,
    docs: DataFrame,
    library: dict[str, str],
    mode: str = "and",
    min_score: float = 0.0,
    content_col: str = "content",
) -> DataFrame:
    """Score every (document, stored query) pair.

    ``docs``: (doc_id long, <content_col> string) — documents NOT (yet) in
    the index.  ``library``: {query_id: query_string}.
    Returns (doc_id, query_id, score, n_matched) for pairs that match
    (all terms in 'and' mode; >=1 in 'or') with score >= min_score.
    """
    spark = engine.spark
    st = engine._stats_row
    n_docs, avgdl = int(st["n_docs"]), float(st["avgdl"])
    # library queries AND document content go through the generation's
    # analyzer — both sides must live in the SAME vocabulary the stored
    # index's statistics describe (engine.search applies the identical
    # pre-transform; a code-analyzer index must classify 'getFoo' as
    # get+foo here too)
    analyzer = engine.analyzer
    analyzed = {
        qid: sorted(set(tokenize(analyze_text(qstr, analyzer))))
        for qid, qstr in library.items()
    }
    lib_terms = sorted({t for ts in analyzed.values() for t in ts})
    df_lookup = {
        r["term"]: int(r["df"])
        for r in engine.terms.where(F.col("term").isin(lib_terms)).collect()
    }
    rows = []
    needed = {}
    for qid, terms in analyzed.items():
        needed[qid] = len(terms)
        for t in terms:
            rows.append((qid, t, _idf(n_docs, df_lookup.get(t, 0))))
    lib = spark.createDataFrame(rows, "query_id string, term string, idf double")

    tf = term_frequencies(docs, content_col=content_col, analyzer=analyzer)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("doclen"))
    contrib = (
        tf.join(F.broadcast(lib), on="term")
        .join(dl, on="doc_id")
        .withColumn(
            "contrib",
            bm25_weight(
                F.col("idf"), F.col("tf"), F.col("doclen"),
                BM25_K1, BM25_B, avgdl,
            ),
        )
    )
    scored = contrib.groupBy("doc_id", "query_id").agg(
        F.sum("contrib").alias("score"), F.count("*").alias("n_matched")
    )
    need = F.create_map(
        *[x for qid, n in needed.items() for x in (F.lit(qid), F.lit(n))]
    )
    if mode == "and":
        scored = scored.where(F.col("n_matched") == need[F.col("query_id")])
    return scored.where(F.col("score") >= min_score).select(
        "doc_id", "query_id", "score", "n_matched"
    )
