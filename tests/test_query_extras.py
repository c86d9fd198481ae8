"""Fuzzy expansion, Dirichlet QL, proximity NEAR, and snippet queries —
each checked against an independent brute-force oracle (the reference's
golden-fixture strategy, core/StructureIntegrationTest.java)."""

import re

import pytest
from pyspark.sql import functions as F

from strucmotif_search_spark import TOKEN_PATTERN
from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.oracle import (
    bm25_topk,
    build_oracle,
    near_spans,
    ql_topk,
    tokenize,
)
from strucmotif_search_spark.query.daat import bm25_topk_daat

TOK = re.compile(TOKEN_PATTERN)

DOCS = [
    ("r", "p0", "c0", "py", "table tables tabled stable query plan"),
    ("r", "p1", "c1", "py", "the query planner builds a table scan"),
    ("r", "p2", "c2", "py", "stream batch filter stream stream table"),
    ("r", "p3", "c3", "py", "fable cable able tale tablet"),
    ("r", "p4", "c4", "py", "query query query nothing else here"),
    ("r", "p5", "c5", "py", "a b c d e f g table h i j query"),
    ("r", "p6", "c6", "py", "table immediately query adjacent pair"),
    ("r", "p7", "c7", "py", "completely unrelated words only"),
    ("r", "p8", "c8", "py", "query far far far far far far table"),
]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    store = IndexStore(tmp_path_factory.mktemp("qx"))
    docs = spark.createDataFrame(
        DOCS,
        "repo string, path string, commit string, lang string, content string",
    )
    build_index(
        spark, docs, store, docs_per_shard=4, with_positions=True,
    )
    return SearchEngine(spark, store)


def _ids_and_texts(engine):
    dm = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in engine.doc_map.collect()
    }
    return {dm[(r, p, c)]: t for (r, p, c, _l, t) in DOCS}


def _oracle(engine):
    texts = _ids_and_texts(engine)
    ids = sorted(texts)
    return build_oracle(ids, [texts[d] for d in ids]), texts


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


# ---------------------------------------------------------------------------
# fuzzy
# ---------------------------------------------------------------------------

def test_fuzzy_expands_to_lev_neighborhood(engine):
    """table~ must score exactly like an explicit expansion group over every
    vocab term within Levenshtein 1 of 'table'."""
    idx, _ = _oracle(engine)
    vocab = sorted(idx.postings)
    members = [t for t in vocab if _lev(t, "table") <= 1]
    assert "table" in members and len(members) > 2  # fixture sanity
    expected = bm25_topk(
        idx, members[0], k=100,
        expansions={members[0]: members[1:]},
    )
    got = [
        (r["doc_id"], r["score"])
        for r in engine.fuzzy_search(
            "table~", k=100, with_meta=False
        ).collect()
    ]
    assert got == expected


def test_fuzzy_mixes_plain_terms(engine):
    idx, _ = _oracle(engine)
    vocab = sorted(idx.postings)
    members = [t for t in vocab if _lev(t, "stream") <= 1]
    expected = bm25_topk(
        idx, f"{members[0]} query", k=100,
        expansions={members[0]: members[1:]},
    )
    got = [
        (r["doc_id"], r["score"])
        for r in engine.fuzzy_search(
            "stream~ query", k=100, with_meta=False
        ).collect()
    ]
    assert got == expected


def test_fuzzy_no_match_is_absent_group(engine):
    # nothing within distance 1 of this token -> OR ignores, AND empties
    assert (
        engine.fuzzy_search(
            "zzqqzz~ query", k=10, mode="and", with_meta=False
        ).count()
        == 0
    )
    or_hits = engine.fuzzy_search(
        "zzqqzz~ query", k=10, mode="or", with_meta=False
    ).count()
    assert or_hits > 0


def test_fuzzy_expansion_cap_raises(engine):
    with pytest.raises(ValueError, match="expands to more than"):
        engine.fuzzy_search("table~", k=5, max_expansions=1)


# ---------------------------------------------------------------------------
# regex term query
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("pattern", ["tab.*", "(stable|fable|cable)", "qu.ry"])
def test_regex_expands_to_matching_vocab(engine, pattern):
    import re as _re

    idx, _ = _oracle(engine)
    rx = _re.compile(f"^(?:{pattern})$")
    members = sorted(t for t in idx.postings if rx.fullmatch(t) or rx.match(t))
    assert members  # fixture sanity
    expected = bm25_topk(
        idx, members[0], k=100, expansions={members[0]: members[1:]}
    )
    got = [
        (r["doc_id"], r["score"])
        for r in engine.regex_search(pattern, k=100, with_meta=False).collect()
    ]
    assert got == expected


def test_regex_no_match_semantics(engine):
    assert engine.regex_search("zzz.*qqq", k=5, with_meta=False).count() == 0
    assert (
        engine.regex_search(
            "zzz.*qqq", extra_terms="query", mode="and", k=5, with_meta=False
        ).count()
        == 0
    )
    assert (
        engine.regex_search(
            "zzz.*qqq", extra_terms="query", mode="or", k=5, with_meta=False
        ).count()
        > 0
    )


def test_regex_empty_answer_keeps_columns(engine):
    # default with_meta: a pattern matching nothing answers with the same
    # columns as a matching one
    hit = engine.regex_search("tab.*", k=5)
    miss = engine.regex_search("zzz.*qqq", k=5)
    assert miss.count() == 0 and hit.count() > 0
    assert miss.columns == hit.columns


def test_regex_expansion_cap_raises(engine):
    with pytest.raises(ValueError, match="matches more than"):
        engine.regex_search(".*", k=5, max_expansions=2)


# ---------------------------------------------------------------------------
# Dirichlet query likelihood
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("query", ["table query", "stream", "the table scan"])
def test_ql_bitwise_vs_oracle(engine, query):
    idx, _ = _oracle(engine)
    expected = ql_topk(idx, query, k=100)
    got = [
        (r["doc_id"], r["score"])
        for r in engine.ql_search(query, k=100, with_meta=False).collect()
    ]
    assert got == expected  # float64 bitwise: same decomposition + order


def test_ql_drops_absent_terms(engine):
    idx, _ = _oracle(engine)
    assert ql_topk(idx, "zz_nope table", k=10) == ql_topk(idx, "table", k=10)
    a = [
        (r["doc_id"], r["score"])
        for r in engine.ql_search(
            "zz_nope table", k=10, with_meta=False
        ).collect()
    ]
    b = [
        (r["doc_id"], r["score"])
        for r in engine.ql_search("table", k=10, with_meta=False).collect()
    ]
    assert a == b and len(a) > 0


def test_ql_all_absent_empty(engine):
    assert engine.ql_search("zz_nope", k=10, with_meta=False).count() == 0


# ---------------------------------------------------------------------------
# proximity NEAR
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("window", [1, 2, 6, 100])
def test_near_matches_bruteforce(engine, window):
    texts = _ids_and_texts(engine)
    expected = near_spans(texts, "table query", window)
    got = [
        (r["doc_id"], r["span"])
        for r in engine.near_search("table query", window, k=100).collect()
    ]
    assert got == expected


def test_near_three_terms(engine):
    texts = _ids_and_texts(engine)
    q = "stream batch filter"
    expected = near_spans(texts, q, 4)
    got = [
        (r["doc_id"], r["span"])
        for r in engine.near_search(q, 4, k=100).collect()
    ]
    assert got == expected
    assert len(expected) > 0  # fixture sanity: doc p2 matches


def test_near_absent_term_empty(engine):
    assert engine.near_search("table zz_nope", 100, k=10).count() == 0


@pytest.mark.parametrize(
    "q,window",
    [
        ("query table", 8),      # order matters: p8 has query..table
        ("table query", 8),
        ("query query query", 6),  # repeated token: needs 3 ascending
        ("stream batch filter", 5),
        ("table far", 100),
    ],
)
def test_near_ordered_matches_bruteforce(engine, q, window):
    texts = _ids_and_texts(engine)
    expected = near_spans(texts, q, window, ordered=True)
    got = [
        (r["doc_id"], r["span"])
        for r in engine.near_search(q, window, k=100, ordered=True).collect()
    ]
    assert got == expected


def test_near_ordered_direction_differs(engine):
    """'table ... query' vs 'query ... table' must differ on the fixture
    (doc p6 has them adjacent in one order only) — proving order is real."""
    texts = _ids_and_texts(engine)
    a = near_spans(texts, "table query", 2, ordered=True)
    b = near_spans(texts, "query table", 2, ordered=True)
    assert a != b  # fixture sanity
    got_a = [
        (r["doc_id"], r["span"])
        for r in engine.near_search(
            "table query", 2, k=100, ordered=True
        ).collect()
    ]
    got_b = [
        (r["doc_id"], r["span"])
        for r in engine.near_search(
            "query table", 2, k=100, ordered=True
        ).collect()
    ]
    assert got_a == a and got_b == b


# ---------------------------------------------------------------------------
# suggest / more-like-this
# ---------------------------------------------------------------------------

def test_suggest_terms_prefix_ranked_by_df(engine):
    from strucmotif_search_spark.query.analytics import suggest_terms

    idx, _ = _oracle(engine)
    expected = sorted(
        ((t, idx.df[t]) for t in idx.postings if t.startswith("ta")),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    got = [
        (r["term"], r["df"])
        for r in suggest_terms(engine, "ta", n=10).collect()
    ]
    assert got == expected and len(expected) >= 3  # table/tables/tabled...


def test_suggest_corrections_ranked_by_dist_then_df(engine):
    from strucmotif_search_spark.query.analytics import suggest_corrections

    idx, _ = _oracle(engine)
    expected = sorted(
        (
            (_lev(t, "tabel"), -idx.df[t], t)
            for t in idx.postings
            if _lev(t, "tabel") <= 2
        ),
    )[:5]
    expected = [(t, -negdf, d) for d, negdf, t in expected]
    got = [
        (r["term"], r["df"], r["dist"])
        for r in suggest_corrections(engine, "tabel", max_dist=2, n=5).collect()
    ]
    assert got == expected and len(expected) > 1


def test_more_like_this_matches_derived_query(engine):
    from strucmotif_search_spark.query.analytics import more_like_this
    from strucmotif_search_spark.query.planner import idf as _idf

    idx, _ = _oracle(engine)
    probe = "stream stream batch the the the the zz_unknown"
    tf = {}
    for t in tokenize(probe):
        tf[t] = tf.get(t, 0) + 1
    weighted = sorted(
        (-(c * _idf(idx.n_docs, idx.df[t])), t)
        for t, c in tf.items()
        if t in idx.df
    )[:2]
    terms = [t for _w, t in weighted]
    # max_terms pruning exercised: 3 present probe terms, only 2 survive
    assert len(terms) == 2
    expected = bm25_topk(idx, " ".join(terms), k=100)
    got = [
        (r["doc_id"], r["score"])
        for r in more_like_this(
            engine, probe, k=100, max_terms=2, with_meta=False
        ).collect()
    ]
    assert got == expected and len(expected) > 0


def test_more_like_this_all_unknown_empty(engine):
    from strucmotif_search_spark.query.analytics import more_like_this

    assert more_like_this(engine, "zz1 zz2 zz3", k=5).count() == 0


def test_more_like_this_empty_answer_keeps_columns(engine):
    from strucmotif_search_spark.query.analytics import more_like_this

    hit = more_like_this(engine, "stream batch", k=5)
    miss = more_like_this(engine, "zz1 zz2 zz3", k=5)
    assert miss.count() == 0 and hit.count() > 0
    assert miss.columns == hit.columns


# ---------------------------------------------------------------------------
# pagination / explain
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("offset,k", [(0, 3), (2, 3), (5, 100), (100, 5)])
def test_search_offset_slices_total_order(engine, offset, k):
    idx, _ = _oracle(engine)
    full = bm25_topk(idx, "table query", k=1000)
    expected = full[offset: offset + k]
    got = [
        (r["doc_id"], r["score"])
        for r in engine.search(
            "table query", k=k, offset=offset, with_meta=False
        ).collect()
    ]
    assert got == expected


@pytest.mark.parametrize("mode", ["or", "and"])
def test_search_after_cursor_walks_full_ranking(engine, mode):
    """Paging with after=(score, doc_id) cursors must reproduce the full
    oracle ranking with no gaps, dups, or order breaks — including across
    bitwise score ties."""
    idx, _ = _oracle(engine)
    full = bm25_topk(idx, "table query", k=1000, mode=mode)
    pages = []
    cursor = None
    for _ in range(50):
        page = [
            (r["doc_id"], r["score"])
            for r in engine.search(
                "table query", k=2, mode=mode, with_meta=False,
                after=cursor,
            ).collect()
        ]
        if not page:
            break
        pages.extend(page)
        cursor = (page[-1][1], page[-1][0])
    assert pages == full


def test_search_after_exclusive_with_offset(engine):
    with pytest.raises(ValueError, match="mutually exclusive"):
        engine.search("table", k=2, offset=2, after=(1.0, 0))


def test_explain_contributions_sum_to_score(engine):
    from strucmotif_search_spark.query.analytics import explain_contributions

    idx, _ = _oracle(engine)
    hits = bm25_topk(idx, "table query", k=5)
    ids = [d for d, _s in hits]
    rows = explain_contributions(engine, "table query", ids).collect()
    by_doc: dict[int, float] = {}
    for r in rows:
        by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0.0) + r["contrib"]
        # each contribution is a positive BM25 term share
        assert r["contrib"] > 0 and r["tf"] >= 1
    for d, s in hits:
        assert by_doc[d] == pytest.approx(s, rel=1e-12)


def test_explain_empty_inputs(engine):
    from strucmotif_search_spark.query.analytics import explain_contributions

    assert explain_contributions(engine, "zz_nope", [0]).count() == 0
    assert explain_contributions(engine, "table", []).count() == 0


# ---------------------------------------------------------------------------
# snippets
# ---------------------------------------------------------------------------

def test_snippet_window_rule(engine, spark):
    corpus = spark.createDataFrame(
        DOCS,
        "repo string, path string, commit string, lang string, content string",
    )
    texts = _ids_and_texts(engine)
    idx, _ = _oracle(engine)
    ctx = 2
    rows = engine.snippet_search(
        "query table", corpus, k=100, ctx=ctx
    ).collect()
    expected_rank = bm25_topk(idx, "query table", k=100)
    assert [(r["doc_id"], r["score"]) for r in rows] == expected_rank
    qterms = set(tokenize("query table"))
    for r in rows:
        toks = TOK.findall(texts[r["doc_id"]])
        first = min(i for i, w in enumerate(toks) if w in qterms)
        lo = max(0, first - ctx)
        assert r["snippet"] == " ".join(toks[lo: lo + 2 * ctx + 1])


# ---------------------------------------------------------------------------
# delete-by-query
# ---------------------------------------------------------------------------

def test_delete_by_query_removes_full_match_set(spark, tmp_path_factory):
    from strucmotif_search_spark.streaming.incremental import (
        verify_consistency,
    )

    store = IndexStore(tmp_path_factory.mktemp("dbq"))
    docs = spark.createDataFrame(
        DOCS,
        "repo string, path string, commit string, lang string, content string",
    )
    build_index(
        spark, docs, store, docs_per_shard=4, with_positions=True,
    )
    eng = SearchEngine(spark, store)
    n_before = eng.doc_map.count()
    n_matching = eng.search("stream", k=1000, with_meta=False).count()
    assert n_matching > 0

    eng.delete_by_query("stream", mode="or")
    eng2 = SearchEngine(spark, store)
    # every match gone; the index equals a from-scratch build over survivors
    assert eng2.search("stream", k=10, with_meta=False).count() == 0
    assert eng2.doc_map.count() == n_before - n_matching
    assert verify_consistency(spark, store) == {
        "orphan_doc_ids": 0,
        "inconsistent_terms": 0,
    }
    # surviving docs still rank identically vs an oracle over survivors
    survivors = {
        (r["repo"], r["path"], r["commit"])
        for r in eng2.doc_map.select("repo", "path", "commit").collect()
    }
    texts = {}
    dm = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in eng2.doc_map.collect()
    }
    for (rp, p, c, _l, t) in DOCS:
        if (rp, p, c) in survivors:
            texts[dm[(rp, p, c)]] = t
    idx = build_oracle(sorted(texts), [texts[d] for d in sorted(texts)])
    expected = bm25_topk(idx, "table query", k=100)
    got = [
        (r["doc_id"], r["score"])
        for r in eng2.search("table query", k=100, with_meta=False).collect()
    ]
    assert got == expected


def test_delete_by_query_absent_is_noop(spark, tmp_path_factory):
    store = IndexStore(tmp_path_factory.mktemp("dbq2"))
    docs = spark.createDataFrame(
        DOCS[:4],
        "repo string, path string, commit string, lang string, content string",
    )
    build_index(
        spark, docs, store, docs_per_shard=4,
    )
    eng = SearchEngine(spark, store)
    eng.delete_by_query("zz_absent", mode="or")
    eng2 = SearchEngine(spark, store)
    assert eng2.doc_map.count() == 4


# ---------------------------------------------------------------------------
# minimum_should_match + term vectors
# ---------------------------------------------------------------------------

def test_min_match_sweep_vs_brute_force(engine):
    """m-of-n for every m: m=1 equals OR, m=n equals AND, the middle is the
    n_matched>=m filter over the OR scoring — bit-identical to the numpy
    oracle's scored set, and to the shard-pruned plan (probe_shards=1, so
    phase 2 decides the other shards against the probe's theta)."""
    oracle, texts = _oracle(engine)
    q = "table query stream"
    plan = engine.plan(q)
    q_terms = sorted(set(tokenize(q)))
    or_hits = {d: s for d, s in bm25_topk(oracle, q, k=100, mode="or")}
    for m in (1, 2, 3):
        exp = sorted(
            (
                (d, s)
                for d, s in or_hits.items()
                if sum(
                    t in oracle.postings
                    and d in set(oracle.postings[t][0].tolist())
                    for t in q_terms
                )
                >= m
            ),
            key=lambda x: (-x[1], x[0]),
        )
        got = [
            (r["doc_id"], r["score"])
            for r in engine.search_min_match(q, min_match=m, k=100).collect()
        ]
        assert got == exp, f"m={m}"
        for k in (1, 2, 100):
            pruned = [
                (r["doc_id"], r["score"])
                for r in bm25_topk_daat(
                    engine.spark, engine.postings, engine.norms, plan,
                    docs_per_shard=engine.meta["docs_per_shard"], k=k,
                    prune_shards=True, probe_shards=1, min_match=m,
                ).collect()
            ]
            assert pruned == exp[:k], f"m={m} k={k}"
    # m=n equals AND exactly
    and_hits = [
        (r["doc_id"], r["score"])
        for r in engine.search(q, k=100, mode="and", with_meta=False).collect()
    ]
    got3 = [
        (r["doc_id"], r["score"])
        for r in engine.search_min_match(q, min_match=3, k=100).collect()
    ]
    assert got3 == and_hits


def test_min_match_absent_term_semantics(engine):
    # 3 terms, one absent: m=3 is unanswerable (Lucene clause counting);
    # m=2 requires both present terms
    got = engine.search_min_match("table query zzznope", min_match=3, k=10)
    assert got.count() == 0
    got2 = [
        r["doc_id"]
        for r in engine.search_min_match(
            "table query zzznope", min_match=2, k=100
        ).collect()
    ]
    both = [
        r["doc_id"]
        for r in engine.search(
            "table query", k=100, mode="and", with_meta=False
        ).collect()
    ]
    assert got2 == both


def test_term_vector_matches_recount(engine):
    oracle, texts = _oracle(engine)
    # doc p2: stream x3, batch, filter, table
    key = ("r", "p2", "c2")
    tv = {
        r["term"]: (r["tf"], r["df"], r["cf"])
        for r in engine.term_vector(*key).collect()
    }
    doc_id = next(
        d for (k, d) in (
            ((r["repo"], r["path"], r["commit"]), r["doc_id"])
            for r in engine.doc_map.collect()
        ) if k == key
    )
    toks = tokenize(texts[doc_id])
    exp_tf = {t: toks.count(t) for t in set(toks)}
    assert {t: v[0] for t, v in tv.items()} == exp_tf
    for t, (tf, df, cf) in tv.items():
        assert df == oracle.df[t] and cf == oracle.cf[t]
    with pytest.raises(KeyError):
        engine.term_vector("r", "nope", "c0")


def test_empty_should_clause_stays_or(engine):
    """should='' (or a should that analyzes to nothing) must NOT flip the
    query into bool mode — zero SHOULD groups would make every group MUST
    and silently turn OR into AND."""
    base = [
        (r["doc_id"], r["score"])
        for r in engine.search("table query", k=20, with_meta=False).collect()
    ]
    for s in ("", "   "):
        got = [
            (r["doc_id"], r["score"])
            for r in engine.search(
                "table query", k=20, with_meta=False, should=s
            ).collect()
        ]
        assert got == base


def test_min_match_one_equals_search_results(engine):
    """search_min_match(min_match=1) is plain OR: the same kernel, plan
    and scores as ``search``."""
    exp = [
        (r["doc_id"], r["score"])
        for r in engine.search("table query", k=20, with_meta=False).collect()
    ]
    mm = [
        (r["doc_id"], r["score"])
        for r in engine.search_min_match("table query", min_match=1, k=20).collect()
    ]
    assert mm == exp


def test_min_match_disables_in_shard_maxscore(spark, tmp_path_factory):
    """The in-shard MaxScore prune must stay off under min_match > 1: its
    theta is the k-th best PARTIAL score, and here that is the lone
    'alpha' doc, which never reaches two groups.  Pruning against it would
    drop every beta+gamma doc and answer k=1 with nothing."""
    rows = [("alpha alpha alpha alpha alpha",)] + [
        (f"beta gamma filler{i} " + "pad " * i,) for i in range(7)
    ]
    docs = spark.createDataFrame(
        [("r", f"p{i}", "c", "py", t) for i, (t,) in enumerate(rows)],
        "repo string, path string, commit string, lang string, content string",
    )
    store = IndexStore(tmp_path_factory.mktemp("mm_guard"))
    build_index(spark, docs, store, docs_per_shard=64)
    eng = SearchEngine(spark, store)
    assert eng.meta["n_shards"] == 1
    q = "alpha beta gamma"
    texts = {
        r["doc_id"]: rows[int(r["path"][1:])][0] for r in eng.doc_map.collect()
    }
    ids = sorted(texts)
    oracle = build_oracle(ids, [texts[d] for d in ids])
    exp = [
        (d, s) for d, s in bm25_topk(oracle, q, k=100, mode="or")
        if "beta" in texts[d]
    ][:1]
    got = [
        (r["doc_id"], r["score"])
        for r in eng.search_min_match(q, min_match=2, k=1).collect()
    ]
    assert len(got) == 1 and got == exp
    plan = eng.plan(q)
    for k in (1, 3):
        pruned, unpruned = (
            [
                (r["doc_id"], r["score"])
                for r in bm25_topk_daat(
                    spark, eng.postings, eng.norms, plan,
                    docs_per_shard=eng.meta["docs_per_shard"], k=k,
                    prune_shards=prune, min_match=2,
                ).collect()
            ]
            for prune in (True, False)
        )
        assert pruned == unpruned and len(unpruned) == k, k


def test_phrase_longer_than_slot_capacity_raises(engine):
    with pytest.raises(ValueError, match="slot capacity"):
        engine.phrase_search(" ".join(["table"] * 65))
