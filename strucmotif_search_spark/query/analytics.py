"""Index-powered corpus analytics beyond search.

The published inverted index is also the cheapest path to per-document term
statistics: postings already hold exact (term, doc, tf) and the terms table
exact df — so TF-IDF-style keyword extraction is a decode + broadcast join,
never a re-tokenize of the corpus.

Reference analogue: the reference derives its per-motif "informativeness"
weights from inverted-index occurrence counts rather than re-reading
structures (SURVEY §2 A7 global stats / F6 scorer family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..build.postings import decode_postings


def tfidf_top_terms(engine, k: int = 3) -> DataFrame:
    """Top-``k`` terms per document by smoothed TF-IDF:
    ``(doc_id, term, tfidf)``.

    tfidf = tf * (ln((N + 1) / (df + 1)) + 1)  — the sklearn-style smoothed
    idf, rounded to 6dp; rank ties break term-ascending on the ROUNDED score
    so ordering is engine-portable.  ``N`` is the index's exact doc count
    (stats table), ``df`` the terms table's exact document frequency.

    Scale notes: postings decode streams per posting block (no per-row
    Python); the terms side is vocabulary-sized and broadcast; the only
    shuffle is the per-document window rank, keyed by doc_id — fixed-width
    rows, ~doclen of them per doc.  At 100 TB this is one pass over the
    index, not the corpus.
    """
    n_docs = int(engine._stats_row["n_docs"])
    decoded = decode_postings(engine.postings)  # (term_id, doc_id, tf)
    dims = F.broadcast(engine.terms.select("term_id", "term", "df"))
    scored = decoded.join(dims, on="term_id").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf")
            * (F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1.0),
            6,
        ).alias("tfidf"),
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= k)
        .select("doc_id", "term", "tfidf")
    )


def facet_counts(
    engine, query: str, facet_col: str = "repo", mode: str = "or"
) -> DataFrame:
    """Facet the FULL match set of a query (every matching document, not the
    top-k) by a ``doc_map`` column: ``(<facet_col>, n_docs)``.

    The standard search-result sidebar ("312 hits in repo A, 87 in repo B"),
    computed from the index alone: the posting scan carries a pushed-down
    ``In(term_id)`` predicate (S6 bucket random-read), doc ids are decoded
    per block, matched per the query mode (OR: any term present; AND: all
    present terms, via a per-doc distinct-term count — the A6 group-count
    shape), then joined to ``doc_map`` for the facet value.  The corpus text
    is never touched and scores are never computed — facets are strictly
    cheaper than the ranked query.

    Scale: shuffles carry (doc_id) / (doc_id, facet) fixed-width rows of the
    MATCH SET only; the final aggregate is facet-cardinality-sized.  The
    doc_map join is an equi-join on doc_id — AQE broadcasts when the match
    set is small, shuffles otherwise.  Reference analogue: result-set
    grouping over the hit list (SURVEY §2 P8 hit projection family).
    """
    matched = match_set(engine, query, mode=mode)
    if matched is None:
        return engine.spark.createDataFrame(
            [], schema=f"{facet_col} string, n_docs long"
        )
    dm = engine.doc_map.select("doc_id", facet_col)
    return matched.join(dm, on="doc_id").groupBy(facet_col).agg(
        F.count("*").cast("long").alias("n_docs")
    )


def facet_histogram(
    engine,
    query: str,
    interval: int = 16,
    mode: str = "or",
) -> DataFrame:
    """Numeric histogram facet over the match set's document LENGTHS —
    the Elasticsearch histogram-aggregation shape, answered from the index
    alone: (bucket, n_docs) with bucket = floor(doclen / interval) *
    interval over every matching document (full match set, not top-k).

    The doclen comes from the doc dictionary (the same per-doc token count
    the norms sidecar packs), so the corpus text is never touched and no
    scores are computed.  Scale shape: identical to :func:`facet_counts`
    — fixed-width (doc_id) match-set rows, one equi-join to the
    metadata-width dictionary projection, then an aggregate whose
    cardinality is max_doclen/interval.
    """
    if interval <= 0:
        raise ValueError(f"interval must be positive, got {interval}")
    matched = match_set(engine, query, mode=mode)
    if matched is None:
        return engine.spark.createDataFrame(
            [], schema="bucket long, n_docs long"
        )
    dm = engine.doc_map.select("doc_id", "doclen")
    return (
        matched.join(dm, on="doc_id")
        .groupBy(
            (F.floor(F.col("doclen") / interval) * interval)
            .cast("long")
            .alias("bucket")
        )
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def match_set(engine, query: str, mode: str = "or") -> DataFrame | None:
    """The FULL match set of a query as a ``(doc_id)`` DataFrame (every
    matching document, unranked, no scores) — the shared core of
    facet_counts and delete_by_query.  Returns None when the match set is
    provably empty driver-side (absent term under AND / empty query).

    Plan: pushed-down ``In(term_id)`` posting scan (S6), per-block doc-id
    decode, OR = distinct / AND = per-doc distinct-term count == n (A6);
    shuffles carry fixed-width (doc_id) rows of the match set only."""
    from ..tokenizer import analyze_text
    from .planner import plan_query

    if mode not in ("or", "and"):
        # this feeds delete_by_query: a mode typo must not silently widen
        # an irreversible delete from intersection to union
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    # same analysis as engine.search: a code-analyzer index must match
    # 'getFoo' as get+foo here too, or delete_by_query/facet_counts would
    # silently disagree with search on what matches
    query = analyze_text(query, engine.analyzer)
    plan = plan_query(
        query,
        engine.terms,
        engine.stats,
        stats_row=engine._stats_row,
        vocab_lookup=engine._vocab_lookup,
    )
    if not plan.term_ids or (mode == "and" and plan.n_absent):
        return None
    decoded = decode_postings(
        engine.postings.where(F.col("term_id").isin(plan.term_ids))
    )
    if mode == "and":
        return (
            decoded.groupBy("doc_id")
            .agg(F.count_distinct("term_id").alias("ng"))
            .where(F.col("ng") == len(plan.term_ids))
            .select("doc_id")
        )
    return decoded.select("doc_id").distinct()


def suggest_terms(engine, prefix: str, n: int = 10) -> DataFrame:
    """Autocomplete: the ``n`` most frequent vocabulary terms with
    ``prefix``, as ``(term, df)`` ordered df-descending (term-ascending
    ties) — the Lucene suggest/completion surface, answered entirely from
    the terms table.

    Plan: a pushed-down ``StartsWith`` range scan of the dictionary-sized
    terms table + TakeOrderedAndProject — the corpus and the posting store
    are never touched, so cost is bounded by the dictionary at any corpus
    scale.

    The prefix runs through the generation's analyzer first (a code-
    analyzer vocabulary is casefolded/split, so 'getFo' completes from the
    'fo' subtoken boundary — the last analyzed fragment, the Lucene
    completion convention)."""
    from ..tokenizer import analyze_text

    analyzed = analyze_text(prefix, engine.analyzer).split()
    prefix = analyzed[-1] if analyzed else prefix
    return (
        engine.terms.where(F.col("term").startswith(prefix))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(n)
    )


def suggest_corrections(
    engine, token: str, max_dist: int = 2, n: int = 5
) -> DataFrame:
    """Did-you-mean: the ``n`` best spelling corrections for ``token`` as
    ``(term, df, dist)``, ordered (edit distance asc, df desc, term asc) —
    the Lucene DirectSpellChecker shape.

    Plan: the fuzzy_search vocabulary probe reused for suggestion — a
    pushed-down ``length(term) BETWEEN len±d`` pre-filter then the JVM
    ``levenshtein`` expression on the terms table; dictionary-bounded, no
    Python, no corpus scan.  A token already in the vocabulary simply
    ranks itself first (dist 0).  The probe token runs through the
    generation's analyzer (vocabulary parity: a casefolded index must not
    spend edit budget on case)."""
    from ..tokenizer import analyze_text

    toks = analyze_text(token, engine.analyzer).split()
    token = toks[-1] if toks else token
    # bounded DP: 3-arg levenshtein early-exits above the threshold (-1)
    dist = F.levenshtein(F.col("term"), F.lit(token), max_dist)
    return (
        engine.terms.where(
            F.length("term").between(
                len(token) - max_dist, len(token) + max_dist
            )
        )
        .withColumn("dist", dist.cast("long"))
        .where(F.col("dist").between(0, max_dist))
        .select("term", "df", "dist")
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(n)
    )


def explain_contributions(
    engine, query: str, doc_ids: list[int]
) -> DataFrame:
    """Score transparency (the Lucene ``explain()`` surface): for each
    requested doc and each present query term, the exact BM25 contribution
    ``(doc_id, term, tf, contrib)`` with
    ``contrib = idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`` — summing
    ``contrib`` over terms reproduces the search score bit-for-bit modulo
    summation order.

    Plan: the posting scan carries pushed-down ``In(term_id)`` AND
    ``In(shard)`` predicates (the requested docs' shards are known
    driver-side: ``doc_id // docs_per_shard``), so only the handful of
    blocks that can contain the requested docs are read; decode is the
    Arrow-vectorized block decoder; idf/doclen attach as a literal map and
    a broadcast doc_map join; the contribution itself is a JVM expression.
    Nothing here scales with the corpus — only with ``len(doc_ids)`` and
    the query's posting blocks for those shards."""
    from ..tokenizer import analyze_text
    from .planner import plan_query

    # analyze like engine.search so explained contributions sum to the
    # score the SEARCH actually produced, analyzer included
    query = analyze_text(query, engine.analyzer)
    plan = plan_query(
        query,
        engine.terms,
        engine.stats,
        stats_row=engine._stats_row,
        vocab_lookup=engine._vocab_lookup,
    )
    empty = engine.spark.createDataFrame(
        [], "doc_id long, term string, tf long, contrib double"
    )
    if not plan.term_ids or not doc_ids:
        return empty
    dps = int(engine.meta["docs_per_shard"])
    shards = sorted({d // dps for d in doc_ids})
    blocks = engine.postings.where(
        F.col("term_id").isin(plan.term_ids) & F.col("shard").isin(shards)
    )
    decoded = decode_postings(blocks).where(F.col("doc_id").isin(doc_ids))
    idf_map = F.create_map(
        *[
            x
            for tid, w in zip(plan.term_ids, plan.idfs)
            for x in (F.lit(tid), F.lit(w))
        ]
    )
    term_map = F.create_map(
        *[
            x
            for tid, t in zip(plan.term_ids, plan.terms)
            for x in (F.lit(tid), F.lit(t))
        ]
    )
    dl = F.broadcast(
        engine.doc_map.where(F.col("doc_id").isin(doc_ids)).select(
            "doc_id", "doclen"
        )
    )
    k1, b, avgdl = plan.k1, plan.b, plan.avgdl
    tf = F.col("tf").cast("double")
    contrib = (
        idf_map[F.col("term_id")]
        * (tf * (k1 + 1.0))
        / (tf + k1 * (1.0 - b + b * F.col("doclen") / avgdl))
    )
    return decoded.join(dl, on="doc_id").select(
        "doc_id",
        term_map[F.col("term_id")].alias("term"),
        F.col("tf").cast("long").alias("tf"),
        contrib.alias("contrib"),
    )


def more_like_this(
    engine, content: str, k: int = 10, max_terms: int = 5, **search_kw
) -> DataFrame:
    """More-like-this: rank the corpus against a probe document (the Lucene
    MoreLikeThis operator; the reference's detectMotifs-on-one-structure
    shape, Strucmotif.java:35-37 — derive query terms from the probe, then
    run the standard search).

    The probe's distinct terms are scored driver-side with
    ``tf * idf`` (the planner's Lucene idf, planner.py:100-101) after one
    vocabulary-cache lookup; the ``max_terms`` highest-weighted terms
    (score desc, term asc ties) become a plain disjunctive BM25 query
    through the production DAAT path.  The probe itself never touches the
    cluster — only its <= ``max_terms`` derived terms do."""
    from collections import Counter

    from ..oracle import tokenize
    from ..tokenizer import analyze_text
    from .planner import idf

    # probe content goes through the generation's analyzer — its tokens
    # must live in the SAME vocabulary the index was built with (analyzed
    # tokens are analyzer fixed points, so search's re-analysis is a no-op)
    tf = Counter(tokenize(analyze_text(content, engine.analyzer)))
    found = engine._vocab_lookup(sorted(tf))
    n_docs = int(engine._stats_row["n_docs"])
    weighted = sorted(
        (
            (-(tf[t] * idf(n_docs, df)), t)
            for t, (_tid, df) in found.items()
        ),
    )[:max_terms]
    if not weighted:
        return engine._no_hits(k, search_kw.get("with_meta", True))
    search_kw.setdefault("mode", "or")  # caller-supplied mode wins
    return engine.search(
        " ".join(t for _w, t in weighted), k=k, **search_kw
    )
