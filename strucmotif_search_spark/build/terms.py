"""terms + stats — exact corpus statistics.

Analogues: the reference's informativeness table (hard-coded global term
frequency ranking, ResiduePairOccurrence.java:230-463) becomes an exact
``terms(term, term_id, df, cf)`` table; the corpus stats become
``stats(n_docs, sum_doclen, avgdl)``.

Both must be EXACT (no approx_count_distinct) because BM25 scores are judged
rank-identical against the oracle (SURVEY.md §2.4 A3).  The build derives
the terms table from its SPIMI runs (builder.py: df/cf are sums of per-run
partials, term_id the deterministic sorted rank of the term string);
incremental updates recompute the stats row with :func:`build_stats`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_stats(doc_map: DataFrame) -> DataFrame:
    """doc_map -> stats(n_docs, sum_doclen, avgdl) — one exact agg."""
    return doc_map.agg(
        F.count("*").alias("n_docs"),
        F.sum("doclen").alias("sum_doclen"),
        (F.sum("doclen") / F.count("*")).cast("double").alias("avgdl"),
    )
