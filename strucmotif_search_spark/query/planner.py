"""Query planning: tokenize, dedupe, look up term stats, order rarest-first.

Reference analogues:
- query tokenization = ResidueGraph over the query structure
  (domain/query/StructureQuery.java:51-52);
- term dedup/pruning = KruskalMotifPruner (core/KruskalMotifPruner.java:23-66)
  — for bag-of-words BM25 this is ``sorted(set(tokens))``;
- rarest-first ordering = the informativeness sort
  (ResiduePairOccurrence.java:53-57) — here an exact df-ascending sort from
  the ``terms`` table (the single highest-leverage optimization in the
  reference per its README:15-18);
- empty-result early exit = DefaultTargetAssembler.java:108-111 — a missing
  term in AND mode answers the query on the driver with zero cluster work;
- query expansion (A4) = tolerance/exchange expansion
  (ResiduePairOccurrence.java:166-227): one query term expands to a set of
  compatible terms whose posting lists are unioned with payload concat
  (DefaultTargetAssembler.java:85-88).  BM25 semantics of an expansion
  group: tf = sum of member tfs per doc (occurrence concat), df = max of
  member dfs (the public Lucene SynonymQuery convention — no extra
  distributed job for a union-count), one idf per group.

The stats lookup goes through a driver-side vocabulary cache supplied by the
engine (``vocab_lookup``) so repeated queries cost zero Spark jobs — the
reference's precomputed informativeness table
(ResiduePairOccurrence.java:230-463) plays the same role.  The global stats
come in as the engine's ``stats_row``, so planning launches no Spark job.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass, field

from .. import BM25_B, BM25_K1
from ..oracle import tokenize

# vocabulary lookup contract: terms -> {term: (term_id, df)} for FOUND terms
VocabLookup = Callable[[list[str]], dict[str, tuple[int, int]]]


@dataclass(frozen=True)
class TermGroup:
    """One scoring unit: a query term plus its expansions (A4).

    ``key`` = min member term_id — the deterministic float64 summation order
    across groups (ascending key == ascending term_id for singleton groups,
    so unexpanded queries score bit-identically to the pre-expansion engine).

    ``required``: Lucene BooleanQuery occur flag — MUST (True) vs SHOULD
    (False).  Plain and/or queries mark every group required; only the
    boolean mode (``plan_query(should=...)``) creates optional groups.
    """

    key: int                    # min(term_id) over present members
    idf: float                  # idf(N, df) with df = max member df
    df: int
    member_ids: tuple[int, ...]  # present members' term_ids
    required: bool = True


@dataclass
class QueryPlan:
    """Resolved query: term stats + global stats, ordered df-ascending."""

    terms: list[str]            # distinct present member terms, df-asc
    term_ids: list[int]         # all present member term_ids (df-asc order)
    dfs: list[int]
    idfs: list[float]
    n_absent: int               # groups with NO present member
    n_docs: int
    avgdl: float
    k1: float = BM25_K1
    b: float = BM25_B
    # scoring units, group-df ascending then key (rarest-first); singleton
    # groups for unexpanded queries
    groups: list[TermGroup] = field(default_factory=list)

    @property
    def empty_and(self) -> bool:
        """AND-mode early exit: some group has no occurring member."""
        return self.n_absent > 0

    @property
    def empty_or(self) -> bool:
        return len(self.groups) == 0

    @property
    def expanded(self) -> bool:
        return any(len(g.member_ids) > 1 for g in self.groups)

    @property
    def n_required(self) -> int:
        return sum(1 for g in self.groups if g.required)


def idf(n_docs: int, df: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def plan_analyzed(
    found: dict[str, tuple[int, int]], n_docs: int, avgdl: float
) -> QueryPlan:
    """QueryPlan over ALREADY-ANALYZED present terms — no tokenizer pass.

    ``found``: {term: (term_id, df)} straight from the engine's vocabulary
    lookup.  Used by the boolean path (query/boolquery.py), whose AST terms
    came out of the engine's CONFIGURED analyzer: round-tripping them
    through the frozen standard ``tokenize`` (as a query string re-plan
    would) could silently split or drop terms a non-standard analyzer
    emits (round-4 ADVICE, low).  Builds singleton required groups,
    rarest-first — identical to ``plan_query`` whenever the analyzed terms
    happen to be tokenize() fixed points (pinned by test)."""
    groups = [
        TermGroup(key=tid, idf=idf(n_docs, df), df=df, member_ids=(tid,))
        for _t, (tid, df) in found.items()
    ]
    groups.sort(key=lambda g: (g.df, g.key))
    by_id = {tid: t for t, (tid, _df) in found.items()}
    flat_terms = [by_id[g.member_ids[0]] for g in groups]
    return QueryPlan(
        terms=flat_terms,
        term_ids=[g.member_ids[0] for g in groups],
        dfs=[g.df for g in groups],
        idfs=[g.idf for g in groups],
        n_absent=0,
        n_docs=n_docs,
        avgdl=avgdl,
        groups=groups,
    )


def plan_query(
    query: str,
    stats_row,
    vocab_lookup: VocabLookup,
    expansions: dict[str, list[str]] | None = None,
    should: str = "",
) -> QueryPlan:
    """``stats_row``: the generation's global stats (``n_docs``,
    ``avgdl``); ``vocab_lookup``: the engine's vocabulary lookup.

    ``should``: optional SHOULD-clause terms (Lucene BooleanQuery):
    their groups are marked ``required=False`` — they contribute to scores
    but not to the conjunction requirement.  A term appearing in both
    ``query`` and ``should`` is MUST (the stricter occur wins, matching
    Lucene's clause-merge behavior).  An absent SHOULD group is silently
    ignored (it never increments ``n_absent``)."""
    distinct = sorted(set(tokenize(query)))
    should_distinct = sorted(set(tokenize(should)) - set(distinct))
    # an empty corpus has a null avgdl; read it as 0.0 like the oracle does
    # (no posting is ever scored against it)
    n_docs = int(stats_row["n_docs"])
    avgdl = float(stats_row["avgdl"] or 0.0)
    if not distinct and not should_distinct:
        return QueryPlan([], [], [], [], 0, n_docs, avgdl)
    # group member sets: base term ∪ its expansions (expansion terms go
    # through the same frozen tokenizer rule so a multi-token synonym is
    # rejected loudly rather than silently mis-tokenized)
    groups_members: list[tuple[list[str], bool]] = []
    for t, req in [(t, True) for t in distinct] + [
        (t, False) for t in should_distinct
    ]:
        members = [t]
        for syn in (expansions or {}).get(t, []):
            toks = tokenize(syn)
            if len(toks) != 1:
                raise ValueError(
                    f"expansion {syn!r} of {t!r} is not a single term"
                )
            if toks[0] not in members:
                members.append(toks[0])
        groups_members.append((members, req))

    lookup_terms = sorted({m for ms, _ in groups_members for m in ms})
    found = vocab_lookup(lookup_terms)

    groups: list[TermGroup] = []
    n_absent = 0
    for members, req in groups_members:
        present = [m for m in members if m in found]
        if not present:
            # an absent SHOULD group is a no-op (Lucene: an optional clause
            # matching nothing neither filters nor scores); an absent MUST
            # group drives the empty_and early exit
            n_absent += 1 if req else 0
            continue
        ids = tuple(sorted(found[m][0] for m in present))
        gdf = max(found[m][1] for m in present)
        groups.append(TermGroup(key=ids[0], idf=idf(n_docs, gdf), df=gdf,
                                member_ids=ids, required=req))
    # a term occurring in two groups would be scored twice with ambiguous
    # group stats — reject loudly (the reference's expansion sets are
    # disjoint by construction, ResiduePairOccurrence.java:166-227)
    flat = [tid for g in groups for tid in g.member_ids]
    if len(flat) != len(set(flat)):
        raise ValueError("expansion groups must be disjoint")
    # rarest-first across groups (df asc, key as deterministic tie-break)
    groups.sort(key=lambda g: (g.df, g.key))

    flat_terms = [
        t for g in groups for t in sorted(
            (m for m in lookup_terms
             if m in found and found[m][0] in g.member_ids),
            key=lambda m: found[m][0],
        )
    ]
    return QueryPlan(
        terms=flat_terms,
        term_ids=[tid for g in groups for tid in g.member_ids],
        dfs=[found[t][1] for t in flat_terms],
        idfs=[idf(n_docs, found[t][1]) for t in flat_terms],
        n_absent=n_absent,
        n_docs=n_docs,
        avgdl=avgdl,
        groups=groups,
    )
