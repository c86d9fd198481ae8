"""Nested boolean expression queries (query/boolquery.py): parser units +
randomized cross-checks against an exact brute-force evaluator built on the
numpy oracle index."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.corpus import generate_corpus
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.oracle import build_oracle, idf
from strucmotif_search_spark.query.boolquery import (
    And,
    BoolQuerySyntaxError,
    Not,
    Or,
    Term,
    accepts_all_absent,
    expr_terms,
    parse_bool,
    positive_terms,
)

N_DOCS = 150


# ---- parser ----------------------------------------------------------------
def test_parse_precedence_and_adjacency():
    # OR binds loosest; adjacency is AND; NOT is unary and tightest
    ast = parse_bool("a b OR c")
    assert ast == Or((And((Term("a"), Term("b"))), Term("c")))
    ast = parse_bool("a AND NOT b OR c")
    assert ast == Or((And((Term("a"), Not(Term("b")))), Term("c")))
    ast = parse_bool("(a OR b) AND c")
    assert ast == And((Or((Term("a"), Term("b"))), Term("c")))
    assert parse_bool("NOT NOT a") == Not(Not(Term("a")))


def test_parse_errors():
    for bad in ["", "(a", "a)", "AND a", "a OR", "NOT", "a ()", "..."]:
        with pytest.raises(BoolQuerySyntaxError):
            parse_bool(bad)


def test_static_analysis():
    ast = parse_bool("(a AND b) OR (c NOT d)")
    assert expr_terms(ast) == {"a", "b", "c", "d"}
    assert positive_terms(ast) == {"a", "b", "c"}
    assert not accepts_all_absent(ast)
    assert accepts_all_absent(parse_bool("NOT a"))
    assert accepts_all_absent(parse_bool("a OR NOT b"))
    # double negation puts the term back in scoring position
    assert positive_terms(parse_bool("NOT NOT a")) == {"a"}


def test_code_analyzer_splits_terms():
    ast = parse_bool("getFoo OR bar", analyzer="code")
    assert ast == Or((And((Term("get"), Term("foo"))), Term("bar")))


# ---- engine vs brute force -------------------------------------------------
@pytest.fixture(scope="module")
def fixture(spark, tmp_path_factory):
    docs = generate_corpus(spark, N_DOCS, seed=11, partitions=4)
    store = IndexStore(tmp_path_factory.mktemp("boolq"))
    build_index(
        spark, docs, store, docs_per_shard=32,
    )
    eng = SearchEngine(spark, store)
    dm = (
        eng.doc_map.select("doc_id", "repo", "path", "commit")
        .join(docs, on=["repo", "path", "commit"])
        .select("doc_id", "content")
        .toPandas()
    )
    oracle = build_oracle(dm["doc_id"].tolist(), dm["content"].tolist())
    tid = {
        r["term"]: int(r["term_id"])
        for r in eng.terms.select("term", "term_id").collect()
    }
    return eng, oracle, tid


def brute_bool(oracle, tid, ast, k):
    """Exact reference: same semantics, ascending-term_id float64 sum."""
    terms = sorted(expr_terms(ast))
    pos = positive_terms(ast)
    has = {
        t: set(oracle.postings[t][0].tolist())
        if t in oracle.postings
        else set()
        for t in terms
    }

    def matches(node, d):
        if isinstance(node, Term):
            return d in has[node.term]
        if isinstance(node, Not):
            return not matches(node.child, d)
        if isinstance(node, And):
            return all(matches(c, d) for c in node.children)
        return any(matches(c, d) for c in node.children)

    # candidate set: docs with >= 1 term, widened to the universe when the
    # expression accepts the all-absent doc
    cand = set().union(*has.values()) if terms else set()
    if accepts_all_absent(ast):
        cand = set(oracle.doc_ids.tolist())
    scored = []
    score_terms = sorted(
        (t for t in pos if t in oracle.postings), key=lambda t: tid[t]
    )
    for d in sorted(cand):
        if not matches(ast, d):
            continue
        s = 0.0
        row = int(np.searchsorted(oracle.doc_ids, d))
        dl = float(oracle.doclens[row])
        for t in score_terms:
            ds, tfs = oracle.postings[t]
            i = int(np.searchsorted(ds, d))
            if i < ds.size and ds[i] == d:
                tf = float(tfs[i])
                s += (
                    idf(oracle.n_docs, oracle.df[t])
                    * tf * 2.2
                    / (tf + 1.2 * (0.25 + 0.75 * dl / oracle.avgdl))
                )
        scored.append((d, s))
    scored.sort(key=lambda x: (-x[1], x[0]))
    return scored[:k]


def _rand_ast(rng, pool, depth):
    if depth == 0 or rng.random() < 0.35:
        return Term(rng.choice(pool))
    r = rng.random()
    if r < 0.2:
        return Not(_rand_ast(rng, pool, depth - 1))
    kids = tuple(
        _rand_ast(rng, pool, depth - 1) for _ in range(rng.randint(2, 3))
    )
    return And(kids) if r < 0.6 else Or(kids)


def test_random_expressions_match_brute_force(fixture):
    eng, oracle, tid = fixture
    # pool: frequent + rare + absent terms
    common = sorted(oracle.df, key=oracle.df.get, reverse=True)[:6]
    rare = [t for t in sorted(oracle.df) if oracle.df[t] <= 3][:6]
    pool = common + rare + ["zzz_absent", "qqq_nope"]
    rng = random.Random(1234)
    n_widened = 0
    for trial in range(25):
        ast = _rand_ast(rng, pool, depth=3)
        n_widened += accepts_all_absent(ast)
        exp = brute_bool(oracle, tid, ast, k=15)
        # render AST back to query syntax for the engine
        def render(node):
            if isinstance(node, Term):
                return node.term
            if isinstance(node, Not):
                return f"(NOT {render(node.child)})"
            op = " AND " if isinstance(node, And) else " OR "
            return "(" + op.join(render(c) for c in node.children) + ")"

        got = [
            (r["doc_id"], r["score"])
            for r in eng.bool_search(render(ast), k=15).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in exp], render(ast)
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in exp], rtol=0, atol=1e-12,
            err_msg=render(ast),
        )
    assert n_widened >= 2  # the widened (corpus-sized) path was exercised


def test_absent_only_and_empty_results(fixture):
    eng, oracle, tid = fixture
    assert eng.bool_search("zzz_absent AND qqq_nope", k=5).count() == 0
    # pure-negative over an absent term matches EVERYTHING at score 0
    rows = eng.bool_search("NOT zzz_absent", k=5).collect()
    assert [r["doc_id"] for r in rows] == sorted(
        oracle.doc_ids.tolist()
    )[:5]
    assert all(r["score"] == 0.0 for r in rows)


def test_bool_prune_path_identical(fixture):
    """Forced shard pruning (the 2-phase ub/probe/theta plan with upper
    bounds over POSITIVE groups only) must be bit-identical to the
    single-pass plan — this path only self-activates past 64 shards /
     2M candidate postings, so pin it explicitly here."""
    eng, oracle, tid = fixture
    for q in [
        "(import AND def) OR (for NOT import)",
        "import OR for OR def",
        "(import NOT def) AND for",
    ]:
        unpruned = [
            (r["doc_id"], r["score"])
            for r in eng.bool_search(q, k=15, prune_shards=False).collect()
        ]
        pruned = [
            (r["doc_id"], r["score"])
            for r in eng.bool_search(q, k=15, prune_shards=True).collect()
        ]
        assert pruned == unpruned, q
    # widening expressions force pruning off internally (every norms shard
    # must be scored); an explicit prune request must not corrupt results
    widen_q = "import OR NOT def"
    a = [(r["doc_id"], r["score"])
         for r in eng.bool_search(widen_q, k=15, prune_shards=True).collect()]
    b = [(r["doc_id"], r["score"])
         for r in eng.bool_search(widen_q, k=15, prune_shards=False).collect()]
    assert a == b


def test_bool_search_with_meta(fixture):
    eng, _, _ = fixture
    rows = eng.bool_search("import AND def", k=3, with_meta=True).collect()
    assert rows and {"repo", "path", "score"} <= set(rows[0].asDict())


def test_bool_plan_shapes(fixture):
    eng, oracle, tid = fixture
    # DAAT expr path: the expression-term IN filter reaches the posting
    # scan; the boolean is evaluated inside the shard cogroup kernel — no
    # doc-dictionary scan, no per-doc shuffle (bucketed cogroup), global
    # top-k operator
    hits = eng.bool_search("(import AND def) OR (for NOT import)", k=5)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "term_id" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapCoGroupsInPandas" in plan
    assert "doc_map" not in plan  # norms sidecar only; no dictionary read
    assert "Exchange" not in plan  # bucketed postings + norms: zero shuffle
    # widening path: same kernel plan — the corpus-sized match set is
    # served by scoring every norms shard through the full-outer cogroup,
    # not by a doc-universe join
    hits = eng.bool_search("import OR NOT def", k=5)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "doc_map" not in plan
    assert "Exchange" not in plan
    # the posting scan's term filter must NOT narrow to positive terms
    # only: negative terms' presence gates matching
    def_id = tid["def"]
    assert str(def_id) in plan
