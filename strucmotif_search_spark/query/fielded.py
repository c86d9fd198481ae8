"""Fielded BM25 ("most_fields") — score a metadata field alongside content.

The index stores content postings (the 100 TB axis).  Short metadata fields
(``path``, ``repo``, ``lang``) live in the doc dictionary — a table orders of
magnitude narrower than content — so their posting lists are DERIVED from
``doc_map`` with a pure-Catalyst tokenize/explode/groupBy and persisted once
per engine, instead of complicating the on-disk index format.  (The same
derivation would be checkpointed next to the index at cluster scale; it is a
deterministic function of ``doc_map``.)

A fielded query scores

    score(d) = w_content * BM25_content(d) + w_field * BM25_field(d)

where each side uses its OWN df / average length / length normalization (the
Lucene/Elasticsearch ``most_fields`` convention: per-field BM25, weighted
sum).  This is an extension beyond the reference's single-axis scoring (a
reference hit carries its two-part address — structureIdentifier +
assemblyIdentifier, domain/result/StructureHit.java:18 — but ranks on one
score); the public model here is Lucene/Elasticsearch multi-field search.

Exactness: the combined top-k is computed over the UNION of matching docs at
(doc, term) granularity — a full outer join of the two contribution sets —
never from per-field top-k lists, so a document that ranks via the field
alone (its content mentions no query term) is still found.  A query term
absent from the content vocabulary still scores through the field side, and
vice versa.

Determinism contract: per-doc summation is ordered by ascending term string
(``array_sort`` over (term, contrib) structs), ties at the k boundary break
by doc_id asc — same float64-replayable discipline as the rest of the query
layer (oracle.py replays it bitwise in the tests).

Scale shape: the content side is bounded by the query terms' posting lists
(pushed-down ``term_id IN`` scan); the field side by the query terms' field
df.  The full outer join shuffles both sides on (doc_id, term) — both are
df-bounded, never corpus-wide; AQE right-sizes the exchange.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import TOKEN_PATTERN
from ..build.postings import decode_postings
from .planner import QueryPlan, idf

_CONTRIB_SCHEMA = "doc_id long, term string, c double"


def field_postings(
    doc_map: DataFrame, field_col: str, analyzer: str = "standard"
) -> DataFrame:
    """Derived posting table for a doc_map string column.

    (doc_id, fieldlen, term, tf) — tokenized with the engine's frozen
    ``TOKEN_PATTERN`` (same admission rule as content, P5) after the
    generation's ``analyzer`` pre-transform, all Catalyst built-ins:
    regexp_extract_all -> explode -> groupBy.  Docs whose field yields no
    tokens simply have no rows (they can never match, and the field-length
    statistics below are computed over ALL docs separately).
    """
    from ..tokenizer import tokenize_expr

    toks = tokenize_expr(F.col(field_col), analyzer)
    return (
        doc_map.select("doc_id", toks.alias("toks"))
        .withColumn("fieldlen", F.size("toks"))
        .select("doc_id", "fieldlen", F.explode("toks").alias("term"))
        .groupBy("doc_id", "fieldlen", "term")
        .agg(F.count("*").alias("tf"))
    )


def field_stats(
    doc_map: DataFrame, field_col: str, analyzer: str = "standard"
) -> tuple[int, float]:
    """(n_docs, avg_fieldlen) over ALL docs — zero-token fields count in the
    average, mirroring BM25's corpus-wide avgdl convention."""
    from ..tokenizer import tokenize_expr

    # NULL field values are zero-token docs, not missing docs: coalesce to
    # '' so F.avg counts them (size(regexp(NULL)) is NULL and avg would
    # silently skip the row, inflating avg_fieldlen vs the all-docs
    # convention the docstring promises)
    toks = tokenize_expr(F.coalesce(F.col(field_col), F.lit("")), analyzer)
    row = doc_map.select(
        F.count("*").alias("n"),
        F.avg(F.size(toks)).alias("avg_fl"),
    ).first()
    return int(row["n"]), float(row["avg_fl"] or 0.0)


def bm25_group_contribs(
    postings: DataFrame,
    norms_decoded: DataFrame,  # (doc_id, doclen) — doc_map works too
    plan: QueryPlan,
    term_of_key: dict[int, str],
) -> DataFrame:
    """Per-(doc, scoring-group) BM25 contributions: (doc_id, term, c), the
    group key mapped back to its term string through ``term_of_key`` — the
    content side of the fielded scorers, which need contributions at group
    granularity (not per-doc sums) to combine them with a second field's
    contributions before the combined top-k."""
    q_ids = sorted({tid for g in plan.groups for tid in g.member_ids})
    blocks = postings.where(F.col("term_id").isin(q_ids))
    decoded = decode_postings(blocks)

    # member term_id -> expansion-group key / idf (A4: a group's tf is the
    # SUM of member tfs — posting-list union with payload concat,
    # DefaultTargetAssembler.java:85-88; singleton groups for plain queries)
    key_of = {tid: g.key for g in plan.groups for tid in g.member_ids}
    idf_of = {g.key: g.idf for g in plan.groups}
    key_map = F.create_map(
        *[F.lit(x) for x in chain.from_iterable(key_of.items())]
    )
    idf_map = F.create_map(
        *[F.lit(x) for x in chain.from_iterable(idf_of.items())]
    )
    grouped = (
        decoded.withColumn("gkey", key_map[F.col("term_id")])
        .groupBy("doc_id", "gkey")
        .agg(F.sum("tf").alias("tf"))
    )
    d = grouped.join(norms_decoded.select("doc_id", "doclen"), on="doc_id")
    contrib = (
        idf_map[F.col("gkey")]
        * (F.col("tf") * (plan.k1 + 1.0))
        / (
            F.col("tf")
            + plan.k1
            * (1.0 - plan.b + plan.b * F.col("doclen") / F.lit(plan.avgdl))
        )
    )
    term_map = F.create_map(
        *[F.lit(x) for x in chain.from_iterable(term_of_key.items())]
    )
    return d.select(
        "doc_id",
        term_map[F.col("gkey")].alias("term"),
        contrib.cast("double").alias("c"),
    )


def _field_contribs(
    fposts: DataFrame,
    terms: list[str],
    n_docs: int,
    avg_fieldlen: float,
    plan: QueryPlan,
    key,
) -> DataFrame | None:
    """Field-side BM25 contributions (doc_id, ``key``, c) of ``terms`` from
    a derived field posting table, under the field's own df / average
    length and the plan's k1 / b.  ``key`` is the summation-key column.
    None when no term occurs in the field."""
    qf = fposts.where(F.col("term").isin(terms))
    # dictionary-sized collect: one df per query term (same class as the
    # planner's vocab lookup)
    df_rows = qf.groupBy("term").agg(F.count("*").alias("df")).collect()
    fidf = {r["term"]: idf(n_docs, int(r["df"])) for r in df_rows}
    if not fidf:
        return None
    idf_map = F.create_map(
        *[F.lit(x) for x in chain.from_iterable(fidf.items())]
    )
    denom = F.col("tf") + plan.k1 * (
        1.0 - plan.b + plan.b * F.col("fieldlen") / F.lit(avg_fieldlen)
    )
    return qf.select(
        "doc_id",
        key,
        (idf_map[F.col("term")] * (F.col("tf") * (plan.k1 + 1.0)) / denom)
        .cast("double")
        .alias("c"),
    )


def _ordered_sum_topk(
    contribs: DataFrame, key: str, n_keys: int, k: int, mode: str
) -> DataFrame:
    """Top-k (doc_id, score) over (doc_id, ``key``, c) contributions: per-doc
    float64 sum in ascending ``key`` order; AND keeps docs matching all
    ``n_keys`` keys."""
    per_doc = contribs.groupBy("doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(key, "c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        ).alias("score"),
        F.count("*").alias("n_matched"),
    )
    if mode == "and":
        per_doc = per_doc.where(F.col("n_matched") == n_keys)
    return (
        per_doc.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def fielded_topk(
    spark: SparkSession,
    postings: DataFrame,
    norms_decoded: DataFrame,
    plan: QueryPlan,
    fposts: DataFrame,
    field_n_docs: int,
    avg_fieldlen: float,
    query_terms: list[str],
    term_of_key: dict[int, str],
    k: int = 10,
    mode: str = "or",
    w_content: float = 1.0,
    w_field: float = 1.0,
) -> DataFrame:
    """Combined-field top-k (doc_id, score).

    ``plan`` covers the content-present query terms (singleton groups —
    fielded queries do not compose with expansion); ``query_terms`` is the
    full distinct tokenized query, including terms the content vocabulary
    has never seen; ``term_of_key`` maps plan group keys (term_ids) back to
    term strings so both sides join on the string key.

    AND mode: a hit must match every query term in at least one of the two
    fields (containment over the per-term field union); a term present in
    neither field anywhere makes the result empty, exactly like single-field
    AND with an absent term.
    """
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not query_terms:
        return empty

    # ---- content side: per-(doc, term) contributions from the index ----
    if plan.empty_or:
        cc = spark.createDataFrame([], _CONTRIB_SCHEMA)
    else:
        cc = bm25_group_contribs(postings, norms_decoded, plan, term_of_key)

    # ---- field side: contributions from the derived field postings ----
    fc = _field_contribs(
        fposts, query_terms, field_n_docs, avg_fieldlen, plan, F.col("term")
    )
    if fc is None:
        fc = spark.createDataFrame([], _CONTRIB_SCHEMA)

    # ---- combine: union of matches at (doc, term) granularity ----
    u = cc.withColumnRenamed("c", "c_content").join(
        fc.withColumnRenamed("c", "c_field"),
        on=["doc_id", "term"],
        how="full_outer",
    )
    comb = u.select(
        "doc_id",
        "term",
        (
            F.lit(float(w_content)) * F.coalesce(F.col("c_content"), F.lit(0.0))
            + F.lit(float(w_field)) * F.coalesce(F.col("c_field"), F.lit(0.0))
        ).alias("c"),
    )
    return _ordered_sum_topk(comb, "term", len(query_terms), k, mode)


def parse_qualified(query: str) -> list[tuple[str | None, str]]:
    """Lucene-style field-qualified clause split: ``repo:src18 value`` ->
    [('repo', 'src18'), (None, 'value')] (None = the content field).  A
    qualifier applies to its one token.  NOTE: every ``word:word`` token is
    treated as a field clause — a field name that is not a doc_map string
    column fails loudly downstream (engine.search_qualified raises), the
    strict-mode contract; callers passing free text with colons (URLs)
    should use plain ``search``, whose tokenizer discards punctuation.
    Duplicate clauses collapse (set semantics, same as the single-field
    planner)."""
    out: set[tuple[str | None, str]] = set()
    for raw in query.split():
        if ":" in raw:
            f, _, t = raw.partition(":")
            if f and t:
                out.add((f, t))
                continue
        out.add((None, raw))
    return sorted(out, key=lambda c: (c[0] or "", c[1]))


def qualified_topk(
    spark: SparkSession,
    postings: DataFrame,
    norms_decoded: DataFrame,
    plan: QueryPlan,
    term_of_key: dict[int, str],
    field_sides: dict[str, tuple[DataFrame, int, float]],
    clauses: list[tuple[str | None, str]],
    k: int = 10,
    mode: str = "or",
) -> DataFrame:
    """Field-qualified BM25: each clause scores in ITS field only —
    ``(None, t)`` via the content index (``plan`` covers exactly those
    terms), ``(field, t)`` via that field's derived postings with the
    field's own df/avgdl.  score(d) = ordered sum of clause contributions
    (ascending clause key '<field>:<term>', '' for content); AND requires
    every clause matched in its own field.

    ``field_sides``: field -> (field postings DF, n_docs, avg_fieldlen).
    """
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not clauses:
        return empty

    sides = []
    content_terms = sorted({t for f, t in clauses if f is None})
    if content_terms and not plan.empty_or:
        cc = bm25_group_contribs(postings, norms_decoded, plan, term_of_key)
        sides.append(
            cc.select(
                "doc_id", F.concat(F.lit(":"), "term").alias("ckey"), "c"
            )
        )
    for fname in sorted({f for f, _t in clauses if f is not None}):
        fposts, fn, avg_fl = field_sides[fname]
        f_terms = sorted({t for f, t in clauses if f == fname})
        fc = _field_contribs(
            fposts, f_terms, fn, avg_fl, plan,
            F.concat(F.lit(fname + ":"), F.col("term")).alias("ckey"),
        )
        if fc is not None:
            sides.append(fc)
    if not sides:
        return empty
    u = sides[0]
    for s in sides[1:]:
        u = u.unionByName(s)
    return _ordered_sum_topk(u, "ckey", len(clauses), k, mode)
