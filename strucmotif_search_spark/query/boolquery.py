"""Nested boolean query expressions — `(a AND b) OR c NOT d` — compiled to
one candidate-bounded Catalyst plan.

The reference's query model is a fixed conjunction of descriptors processed
rarest-first (core/DefaultTargetAssembler.java:92-111); the engine already
generalizes that to flat MUST/SHOULD/MUST_NOT (Lucene BooleanQuery, engine
``mode='bool'``).  This module closes the remaining gap: ARBITRARILY NESTED
boolean structure, the Lucene query-string shape every search engine user
expects (`(spark AND sql) OR (flink AND NOT batch)`).

Semantics (Lucene-equivalent, exactly replayable):

- a document MATCHES iff the boolean expression over per-term presence
  flags evaluates true (NOT is set complement against the doc universe);
- a matching document's score = the BM25 sum over the expression's
  POSITIVE terms present in it (a term is positive when it occurs in at
  least one non-negated position; purely negated terms filter, never
  score — Lucene's prohibited clauses);
- summation order is ascending term_id (the engine's total order), ties
  at the k cut break by doc_id ascending.

Plan shape (:func:`bool_topk` — the DAAT shard kernel,
query/daat.py mode='expr'):

  postings.where(term_id IN all-expression-terms)   <- ONE pushed-down scan,
                                                       negative terms included
                                                       (their flags gate matching)
    -> bucketed shard cogroup with packed norms     <- ZERO exchange
       (numpy kernel per shard: per-group presence
        masks; BM25 sum over POSITIVE groups in
        ascending-key float64 order; compiled
        boolean over the masks; per-shard top-k)
    -> orderBy(score desc, doc_id asc).limit(k)     <- TakeOrderedAndProject

Cost is candidate-bounded (docs containing >= 1 positive term — a
non-widening match provably contains one, by monotonicity over odd-parity
terms) UNLESS the expression accepts the all-absent document (e.g.
`NOT a`, `a OR NOT b`) — then the match set provably includes every
document with none of the terms, and the kernel scores every norms shard
through the full-outer cogroup (posting-less shards arrive with an empty
blocks side; no doc-dictionary join, content never read).  That widening
is forced by the semantics, not the implementation: the answer itself is
corpus-sized.  The evaluator detects this statically (evaluate the AST
under all-false flags) so the common case never pays it.  Shard-level
block-max pruning stays available for non-widening expressions, with
phase-0 upper bounds over positive groups only.

Grammar:  expr   := or
          or     := and (OR and)*
          and    := unary ((AND)? unary)*     -- adjacency is AND
          unary  := NOT unary | '(' expr ')' | TERM
Operators are upper-case keywords; everything else is a term, run through
the generation's analyzer (a camelCase term under the code analyzer becomes
the AND of its subtokens).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..oracle import tokenize
from ..tokenizer import analyze_text
from .planner import plan_analyzed

_TOKENS = re.compile(r"\(|\)|[^()\s]+")


# ---- AST ----------------------------------------------------------------
@dataclass(frozen=True)
class Term:
    term: str


@dataclass(frozen=True)
class Not:
    child: "Node"


@dataclass(frozen=True)
class And:
    children: tuple["Node", ...]


@dataclass(frozen=True)
class Or:
    children: tuple["Node", ...]


Node = Term | Not | And | Or


class BoolQuerySyntaxError(ValueError):
    pass


def parse_bool(query: str, analyzer: str = "standard") -> Node:
    """Parse a boolean expression into an AST, analyzing each term.

    A term that analyzes to several subtokens (code analyzer camelCase
    split) becomes the AND of its subtokens; a term that analyzes to
    nothing (pure punctuation) is rejected loudly rather than silently
    matching nothing."""
    toks = _TOKENS.findall(query)
    if not toks:
        raise BoolQuerySyntaxError("empty boolean query")
    pos = 0

    def peek() -> str | None:
        return toks[pos] if pos < len(toks) else None

    def take() -> str:
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_or() -> Node:
        parts = [parse_and()]
        while peek() == "OR":
            take()
            parts.append(parse_and())
        return parts[0] if len(parts) == 1 else Or(tuple(parts))

    def parse_and() -> Node:
        parts = [parse_unary()]
        while True:
            nxt = peek()
            if nxt == "AND":
                take()
                parts.append(parse_unary())
            elif nxt is not None and nxt not in (")", "OR"):
                # adjacency is AND
                parts.append(parse_unary())
            else:
                break
        return parts[0] if len(parts) == 1 else And(tuple(parts))

    def parse_unary() -> Node:
        nxt = peek()
        if nxt is None:
            raise BoolQuerySyntaxError("unexpected end of query")
        if nxt == "NOT":
            take()
            return Not(parse_unary())
        if nxt == "(":
            take()
            inner = parse_or()
            if peek() != ")":
                raise BoolQuerySyntaxError("missing ')'")
            take()
            return inner
        if nxt == ")" or nxt in ("AND", "OR"):
            raise BoolQuerySyntaxError(f"unexpected {nxt!r}")
        word = take()
        subs = tokenize(analyze_text(word, analyzer))
        if not subs:
            raise BoolQuerySyntaxError(f"term {word!r} analyzes to nothing")
        if len(subs) == 1:
            return Term(subs[0])
        return And(tuple(Term(s) for s in subs))

    root = parse_or()
    if pos != len(toks):
        raise BoolQuerySyntaxError(f"trailing input at {toks[pos]!r}")
    return root


# ---- static analysis ----------------------------------------------------
def expr_terms(node: Node) -> set[str]:
    if isinstance(node, Term):
        return {node.term}
    if isinstance(node, Not):
        return expr_terms(node.child)
    return set().union(*(expr_terms(c) for c in node.children))


def positive_terms(node: Node, negated: bool = False) -> set[str]:
    """Terms occurring in >= 1 non-negated position (the scoring set)."""
    if isinstance(node, Term):
        return set() if negated else {node.term}
    if isinstance(node, Not):
        return positive_terms(node.child, not negated)
    return set().union(*(positive_terms(c, negated) for c in node.children))


def accepts_all_absent(node: Node) -> bool:
    """Evaluate under all-false flags: does the expression match a document
    containing NONE of its terms?  True forces the doc-universe widening."""
    if isinstance(node, Term):
        return False
    if isinstance(node, Not):
        return not accepts_all_absent(node.child)
    if isinstance(node, And):
        return all(accepts_all_absent(c) for c in node.children)
    return any(accepts_all_absent(c) for c in node.children)


# ---- execution ----------------------------------------------------------
@dataclass(frozen=True)
class ExprSpec:
    """Compiled boolean expression handed to the DAAT shard kernel
    (query/daat.py mode='expr'): a vectorized mask evaluator over per-group
    presence arrays, the set of scoring (positive) group keys, and whether
    the expression accepts the all-absent document (widening)."""

    evaluate: object            # (presence: dict[int, ndarray], n) -> ndarray
    score_keys: frozenset
    widen: bool


def compile_mask_eval(ast: Node, key_of: dict[str, int]):
    """Compile the AST to a whole-shard vectorized evaluator: Term reads its
    group's presence mask (absent-from-vocabulary terms and groups with no
    postings in the shard read all-false), NOT/AND/OR are numpy boolean
    ops.  Runs inside the cogrouped pandas kernel — cloudpickle ships the
    closure with the (tiny, frozen) AST."""
    import numpy as _np

    def ev(node: Node, presence: dict, n: int):
        if isinstance(node, Term):
            key = key_of.get(node.term)
            arr = presence.get(key) if key is not None else None
            return (
                arr if arr is not None else _np.zeros(n, dtype=bool)
            )
        if isinstance(node, Not):
            return ~ev(node.child, presence, n)
        parts = [ev(c, presence, n) for c in node.children]
        out = parts[0].copy()
        for p in parts[1:]:
            if isinstance(node, And):
                out &= p
            else:
                out |= p
        return out

    return lambda presence, n: ev(ast, presence, n)


def bool_topk(
    engine, query: str, k: int = 10, prune_shards: bool | None = None
) -> DataFrame:
    """Top-k (doc_id, score) for a nested boolean expression — the DAAT
    production path: ONE pushed-down posting scan over all expression terms
    (negative ones included), evaluated inside the zero-exchange shard
    cogroup kernel (presence masks + positive-sum scoring + compiled
    boolean, query/daat.py mode='expr'), per-shard top-k heaps, global
    TakeOrderedAndProject merge.  No per-doc shuffle, no doc-dictionary
    join: even the widening case (`NOT a`, `a OR NOT b` — the match set is
    provably corpus-sized) stays in the kernel, scoring every norms shard
    through the full-outer cogroup instead of joining the doc universe.
    Semantics checked against a brute-force replay of the module
    docstring's rules (randomized, tests/test_boolquery.py).  A
    non-widening expression with no positive term in the vocabulary
    returns empty from ``bm25_topk_daat`` before any scoring job."""
    from .daat import bm25_topk_daat, prune_shards_default

    ast = parse_bool(query, engine.analyzer)
    all_terms = sorted(expr_terms(ast))
    vocab = engine._vocab_lookup(all_terms)
    widen = accepts_all_absent(ast)
    pos_ids = frozenset(
        vocab[t][0] for t in positive_terms(ast) if t in vocab
    )
    # singleton groups for every PRESENT expression term (negative ones
    # included — their presence flags gate matching); gkey == term_id.
    # Built directly from the vocab lookup (term_ids already in hand) —
    # NOT by re-planning a joined query string, which would round-trip the
    # analyzer's output through the frozen standard tokenizer
    plan = plan_analyzed(
        vocab,
        int(engine._stats_row["n_docs"]),
        float(engine._stats_row["avgdl"]),
    )
    spec = ExprSpec(
        evaluate=compile_mask_eval(
            ast, {t: tid for t, (tid, _df) in vocab.items()}
        ),
        score_keys=pos_ids,
        widen=widen,
    )
    # volume over the positive groups only — they alone decide candidacy
    # and decode cost; explicit prune_shards overrides (tests pin both)
    if prune_shards is None:
        prune_shards = prune_shards_default(
            engine.meta.get("n_shards") or 0,
            [g for g in plan.groups if g.key in pos_ids],
        )
    return bm25_topk_daat(
        engine.spark,
        engine.postings,
        engine.norms,
        plan,
        docs_per_shard=engine.meta["docs_per_shard"],
        k=k,
        mode="expr",
        prune_shards=prune_shards,
        expr=spec,
    )
