"""Property tests for the boolquery front-end (no Spark): parse/render
semantic round-trip, static analysis vs direct evaluation, and the compiled
numpy mask evaluator vs a recursive reference — the pure-python pieces every
boolexpr query (driver gate ii_bm25_boolexpr*, engine bool_search) rests on.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from strucmotif_search_spark.query.boolquery import (
    And,
    Node,
    Not,
    Or,
    Term,
    accepts_all_absent,
    compile_mask_eval,
    expr_terms,
    parse_bool,
    positive_terms,
)

TERMS = ["alpha", "beta", "gamma", "delta", "eps"]


def asts(depth: int = 3):
    base = st.sampled_from(TERMS).map(Term)
    return st.recursive(
        base,
        lambda kids: st.one_of(
            kids.map(Not),
            st.lists(kids, min_size=2, max_size=3).map(
                lambda c: And(tuple(c))
            ),
            st.lists(kids, min_size=2, max_size=3).map(
                lambda c: Or(tuple(c))
            ),
        ),
        max_leaves=8,
    )


def evaluate(node: Node, flags: dict[str, bool]) -> bool:
    """Reference semantics: direct recursive evaluation."""
    if isinstance(node, Term):
        return flags.get(node.term, False)
    if isinstance(node, Not):
        return not evaluate(node.child, flags)
    if isinstance(node, And):
        return all(evaluate(c, flags) for c in node.children)
    return any(evaluate(c, flags) for c in node.children)


def render(node: Node) -> str:
    if isinstance(node, Term):
        return node.term
    if isinstance(node, Not):
        return f"(NOT {render(node.child)})"
    op = " AND " if isinstance(node, And) else " OR "
    return "(" + op.join(render(c) for c in node.children) + ")"


@settings(max_examples=200, deadline=None)
@given(asts(), st.lists(st.booleans(), min_size=5, max_size=5))
def test_parse_render_semantic_roundtrip(ast, bits):
    """render -> parse may regroup And/Or arity, but the parsed tree must
    be semantically identical to the original on every assignment."""
    flags = dict(zip(TERMS, bits))
    reparsed = parse_bool(render(ast))
    assert evaluate(reparsed, flags) == evaluate(ast, flags)
    assert expr_terms(reparsed) == expr_terms(ast)


@settings(max_examples=200, deadline=None)
@given(asts())
def test_static_analysis_matches_evaluation(ast):
    # accepts_all_absent IS evaluation under all-false flags
    assert accepts_all_absent(ast) == evaluate(ast, {})
    # monotonicity underpinning the kernel's candidate bound: if the
    # expression rejects the all-absent doc, then a doc whose only present
    # terms are NON-positive (odd-parity-only) still cannot match
    if not accepts_all_absent(ast):
        pos = positive_terms(ast)
        flags = {t: True for t in expr_terms(ast) if t not in pos}
        assert not evaluate(ast, flags)


@settings(max_examples=200, deadline=None)
@given(
    asts(),
    st.lists(
        st.lists(st.booleans(), min_size=5, max_size=5),
        min_size=1,
        max_size=4,
    ),
)
def test_compiled_mask_eval_matches_reference(ast, doc_rows):
    """The numpy evaluator the DAAT kernel runs must agree with recursive
    evaluation doc-by-doc, including terms missing from the vocabulary."""
    n = len(doc_rows)
    key_of = {t: i for i, t in enumerate(TERMS[:3])}  # 2 terms "absent"
    presence = {
        key_of[t]: np.array([row[i] for row in doc_rows], dtype=bool)
        for i, t in enumerate(TERMS[:3])
        for t in [TERMS[i]]
    }
    got = compile_mask_eval(ast, key_of)(presence, n)
    for d, row in enumerate(doc_rows):
        flags = {t: bool(row[i]) and t in key_of for i, t in enumerate(TERMS)}
        assert bool(got[d]) == evaluate(ast, flags), (d, render(ast))


@settings(max_examples=200, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(TERMS),
        st.tuples(
            st.integers(min_value=0, max_value=10_000),   # term_id
            st.integers(min_value=1, max_value=500),      # df
        ),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=500, max_value=1_000_000),      # n_docs
)
def test_plan_analyzed_matches_plan_query(vocab, n_docs):
    """plan_analyzed (the boolean path's no-retokenize plan construction,
    round-4 ADVICE fix) must equal plan_query on any vocab whose terms are
    tokenize() fixed points — same groups, same order, same idfs, bit for
    bit.  Distinct term_ids enforced (the registry mints them uniquely)."""
    from strucmotif_search_spark.query.planner import (
        plan_analyzed,
        plan_query,
    )

    ids = {tid for tid, _df in vocab.values()}
    if len(ids) != len(vocab):  # duplicate minted ids can't happen
        vocab = {
            t: (i, df)
            for i, (t, (_tid, df)) in enumerate(sorted(vocab.items()))
        }
    avgdl = 37.5
    direct = plan_analyzed(vocab, n_docs, avgdl)
    replanned = plan_query(
        " ".join(sorted(vocab)),
        stats_row={"n_docs": n_docs, "avgdl": avgdl},
        vocab_lookup=lambda terms: {
            t: vocab[t] for t in terms if t in vocab
        },
    )
    assert direct.terms == replanned.terms
    assert direct.term_ids == replanned.term_ids
    assert direct.dfs == replanned.dfs
    assert direct.idfs == replanned.idfs
    assert direct.groups == replanned.groups
    assert (direct.n_docs, direct.avgdl, direct.n_absent) == (
        replanned.n_docs,
        replanned.avgdl,
        replanned.n_absent,
    )
