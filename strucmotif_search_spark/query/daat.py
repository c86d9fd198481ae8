"""DAAT BM25 scoring: one per-shard kernel, two arms that run it.

Both arms call the same ``_make_scorer`` once per *shard* (document-sharded
index) with the query terms' posting blocks for that shard plus the shard's
packed norms row, and run document-at-a-time scoring entirely in numpy:

- the Spark arm, ``bm25_topk_daat``: one grouped cogroup-pandas UDF task
  per shard, the global top-k merged by Catalyst; the scale path, and the
  only one for shard pruning and doc predicates;
- the driver arm, ``bm25_topk_local``: the same kernel over pandas inputs
  the caller read for a small plan (``fits_driver``), no Spark job.

Both share their early exits (``plan_mode``) and the kernel's summation
order, so their answers are bit-identical by construction.  The kernel:

- scoring units are expansion GROUPS (A4, ResiduePairOccurrence.java:166-227):
  a group's tf per doc is the sum of its member terms' tfs (posting-list
  union with payload concat, DefaultTargetAssembler.java:85-88); unexpanded
  queries are singleton groups and score bit-identically to a per-term loop;
- groups processed rarest-first (df-ascending; O1 / ResiduePairOccurrence
  .java:53-57) with progressive candidate intersection in AND mode
  (DefaultTargetAssembler.java:92-111 analogue);
- posting blocks are SKIPPED without decoding when their [first_doc_id,
  max_doc_id] range cannot intersect the surviving candidate range — the
  skip-pointer payoff (north_rule: per-block skip pointers);
- scores accumulate into a dense per-shard float64 array in ascending
  group-key order — bitwise-identical summation order to the oracle;
- each shard emits only its local top-k; the global
  ``(score desc, doc_id asc)`` top-k merges shard heaps (Catalyst
  TakeOrderedAndProject on the Spark arm, a stable pandas sort on the
  driver arm).

Scale shape (Spark arm): a query touching T terms reads T posting lists
split across S shards; the only shuffle is blocks+norms -> shard groups,
and the result is S*k rows.  No join against the doc dictionary until after
the top-k (late materialization, TargetStructure.java:24-27 analogue).

This module is the one owner of per-shard scoring, per-shard top-k and the
BM25 term weight (``bm25_weight``).  The shard code is module-level so every
per-shard scorer shares it: ``_posting_blocks`` (the pushed-down block
scan), ``_score_shards`` (the shard cogroup with the bucketed norms),
``_shard_norms`` (norms unpack), ``term_blocks`` + ``group_tf`` (dense tf
decode with block skipping) and ``_shard_topk`` (boundary-tie shard heap).
Its users:
- ``msearch`` (query/msearch.py) runs one ``_make_scorer`` per query inside
  a single cogroup;
- ``_make_contributions`` / ``bm25_contributions`` emit per-(doc, group)
  weights instead of sums: the content side of ``fielded_search`` and
  ``search_qualified`` (query/fielded.py) and ``explain_contributions``
  (query/analytics.py);
- Dirichlet QL (query/ql.py) keeps only its formula and candidate rule.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codec import unpack_block
from ..session import local_frame
from .planner import QueryPlan

_RESULT_SCHEMA = "doc_id long, score double"
_CONTRIB_SCHEMA = "doc_id long, term string, tf long, c double"

# the posting-block columns every shard kernel reads
BLOCK_COLS = (
    "shard", "term_id", "first_doc_id", "max_doc_id", "block_max_tf",
    "doc_gaps", "tfs",
)

# sentinel: "this group was decoded under a candidate-range restriction and
# produced no postings" — distinct from "not decoded yet" (None)
_NO_POSTINGS = np.zeros(0, dtype=np.float64)


def _empty_pdf() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": [], "score": []}).astype(
        {"doc_id": "int64", "score": "float64"}
    )


def _shard_norms(
    right: pd.DataFrame, docs_per_shard: int
) -> tuple[int, np.ndarray]:
    """Unpack a shard's packed norms row: (base doc id of the shard, dense
    float64 doclen array indexed by doc id - base).  A doc absent from the
    norms row reads doclen 0 — the eligibility mask every scorer applies."""
    base = int(right["shard"].iloc[0]) * docs_per_shard
    norm_ids, norm_lens = unpack_block(
        bytes(right["doc_gaps"].iloc[0]), bytes(right["doclens"].iloc[0])
    )
    dense_len = np.zeros(docs_per_shard, dtype=np.float64)
    dense_len[norm_ids - base] = norm_lens
    return base, dense_len


class TermBlocks(NamedTuple):
    """One term's posting blocks in one shard, in doc order, as numpy
    columns (one entry per ~128 postings)."""

    first: np.ndarray   # first_doc_id
    last: np.ndarray    # max_doc_id
    gaps: np.ndarray    # packed doc-gap payloads
    tfs: np.ndarray     # packed tf payloads
    max_tf: int         # max block_max_tf


def term_blocks(left: pd.DataFrame) -> dict[int, TermBlocks]:
    """A shard's posting blocks split by term_id, sorted once per shard so
    the decode loops step over numpy arrays, never pandas rows."""
    if len(left) == 0:
        return {}
    order = np.lexsort(
        (left["first_doc_id"].to_numpy(), left["term_id"].to_numpy())
    )
    tid, first, last, gaps, tfs, mtf = (
        left[c].to_numpy()[order]
        for c in (
            "term_id", "first_doc_id", "max_doc_id", "doc_gaps", "tfs",
            "block_max_tf",
        )
    )
    cuts = np.flatnonzero(np.diff(tid)) + 1
    return {
        int(tid[a]): TermBlocks(
            first[a:b], last[a:b], gaps[a:b], tfs[a:b], int(mtf[a:b].max())
        )
        for a, b in zip(np.r_[0, cuts], np.r_[cuts, tid.size])
    }


def group_tf(
    groups_by_tid: dict[int, TermBlocks],
    member_ids,
    base: int,
    docs_per_shard: int,
    lo: int = -1,
    hi: int = 1 << 62,
) -> np.ndarray | None:
    """Dense per-shard tf vector for one expansion group: sum of member
    tfs (posting-list union, J2 shape).  Blocks outside [lo, hi] are
    skipped without decoding (skip pointers).  Returns None if no member
    has a (surviving) posting in this shard."""
    dense = None
    for tid in member_ids:
        g = groups_by_tid.get(tid)
        if g is None:
            continue
        # one step per block, in doc order: no per-posting python
        for first, last, gaps, tfs in zip(g.first, g.last, g.gaps, g.tfs):
            if last < lo or first > hi:
                continue
            ids, tf = unpack_block(bytes(gaps), bytes(tfs))
            if dense is None:
                dense = np.zeros(docs_per_shard, dtype=np.float64)
            dense[ids - base] += tf
    return dense


def _shard_topk(
    hit: np.ndarray, s: np.ndarray, base: int, k: int
) -> pd.DataFrame:
    """Per-shard top-k heap over shard-local doc offsets ``hit`` with scores
    ``s``: argpartition, then keep ALL docs tied with the boundary score
    before the exact (score desc, doc_id asc) order — selecting by score
    alone would break the doc_id-asc tie-break rule when distinct docs tie
    bitwise at the k boundary."""
    if hit.size > k:
        part = np.argpartition(-s, k - 1)
        thresh = s[part[k - 1]]
        keep = np.flatnonzero(s >= thresh)
        hit, s = hit[keep], s[keep]
    order = np.lexsort((hit, -s))[:k]
    return pd.DataFrame(
        {"doc_id": (hit[order] + base).astype("int64"), "score": s[order]}
    )


def _posting_blocks(postings: DataFrame, term_ids) -> DataFrame:
    """The pushed-down posting-block scan every shard kernel reads: the
    blocks of ``term_ids`` with their skip metadata and packed payloads."""
    return postings.where(
        F.col("term_id").isin(term_ids) if term_ids else F.lit(False)
    ).select(*BLOCK_COLS)


def _score_shards(
    blocks: DataFrame, norms: DataFrame, fn, schema: str = _RESULT_SCHEMA
) -> DataFrame:
    """One cogroup-pandas task per document shard: ``fn(blocks, norms_row)``
    over the shard's posting blocks and its packed norms row."""
    return (
        blocks.groupBy("shard")
        .cogroup(norms.groupBy("shard"))
        .applyInPandas(fn, schema=schema)
    )


def bm25_weight(idf, tf, dl, k1: float, b: float, avgdl: float):
    """The BM25 term weight ``idf * tf(k1+1) / (tf + k1(1-b+b*dl/avgdl))``
    in the one operand order every scorer and contribution shares, so
    their float64 results agree bit for bit.  Plain arithmetic: over numpy
    arrays it computes the weights, over Spark Columns it builds the
    equivalent Catalyst expression (the field side of query/fielded.py and
    query/classify.py, whose inputs are not posting blocks)."""
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _make_scorer(
    plan: QueryPlan,
    docs_per_shard: int,
    k: int,
    mode: str,
    exclude_ids: tuple[int, ...] = (),
    after: tuple[float, int] | None = None,
    expr=None,
    min_match: int = 1,
):
    """``min_match`` (mode='or' only): a hit must match at least this many
    scoring groups — the Elasticsearch ``minimum_should_match`` count
    threshold (A6, TargetStructure.java:136-144); 1 or less is plain OR.

    ``after``: cursor pagination — emit only docs STRICTLY after the
    (score, doc_id) cursor in the engine's total order (score desc, doc_id
    asc).  Scores are deterministic float64, so the equality arm of the
    cursor comparison is exact across pages.  Applied before the per-shard
    top-k heap, so a cursor page costs the same as page one (constant in
    page depth — the scalable alternative to ``offset``).

    ``expr`` (mode='expr' only): an ExprSpec (query/boolquery.py) — nested
    boolean expressions evaluated INSIDE the shard kernel: per-group
    presence masks feed the compiled AST evaluator, only positive
    (even-parity) groups contribute to the score, and a widening
    expression (one that accepts the all-absent document) scores every
    norms shard — including shards with no query-term postings at all,
    which arrive here as an empty left cogroup side."""
    # ascending group-key order fixes float64 summation; rarest-first order
    # (plan.groups is already df-ascending) drives intersection
    by_key = sorted(plan.groups, key=lambda g: g.key)
    rarest_first = list(plan.groups)
    n_groups = len(plan.groups)
    # bool mode (Lucene BooleanQuery MUST/SHOULD): conjunction runs over
    # REQUIRED groups only; optional groups score but never filter
    required = [g for g in rarest_first if g.required]
    n_required = len(required)
    k1, b, avgdl = plan.k1, plan.b, plan.avgdl

    def score_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(right) == 0:
            return _empty_pdf()
        if len(left) == 0 and not (expr is not None and expr.widen):
            # no query-term postings in this shard: only a widening
            # expression can still match here (all-absent docs, score 0)
            return _empty_pdf()
        base, dense_len = _shard_norms(right, docs_per_shard)
        groups_by_tid = term_blocks(left)

        # --- NOT-term exclusion (P2 lifted to term level): zero excluded
        # docs out of dense_len, which doubles as the eligibility mask —
        # so exclusion applies BEFORE pruning thetas and BEFORE top-k, and
        # every downstream guard (prune_score eligibility, final hit mask)
        # inherits it for free.  Excluded terms' blocks arrive in the same
        # shard cogroup (document-sharded index), so this is shard-local.
        for tid in exclude_ids:
            g = groups_by_tid.get(tid)
            if g is None:
                continue
            for gaps, tfs in zip(g.gaps, g.tfs):
                ids, _ = unpack_block(bytes(gaps), bytes(tfs))
                dense_len[ids - base] = 0.0

        # --- candidate narrowing (AND/bool): rarest-first, block skipping ---
        # bool mode narrows over REQUIRED groups only, then decodes optional
        # groups restricted to the survivors' doc range: a block outside
        # [cand_min, cand_max] contains no doc matching every MUST clause,
        # so its optional-term postings can never reach an emitted doc
        decoded: dict[int, np.ndarray] = {}  # group key -> dense tf
        narrow = rarest_first if mode == "and" else (
            required if mode == "bool" else []
        )
        if narrow:
            cand: np.ndarray | None = None  # sorted candidate doc offsets
            for grp in narrow:
                lo = int(cand[0]) + base if cand is not None and cand.size else -1
                hi = (
                    int(cand[-1]) + base
                    if cand is not None and cand.size
                    else 1 << 62
                )
                dense = group_tf(
                    groups_by_tid, grp.member_ids, base, docs_per_shard, lo, hi
                )
                if dense is None:
                    return _empty_pdf()
                decoded[grp.key] = dense
                ids = np.flatnonzero(dense)
                cand = ids if cand is None else cand[np.isin(cand, ids)]
                if cand.size == 0:
                    return _empty_pdf()
            if mode == "bool":
                clo, chi = int(cand[0]) + base, int(cand[-1]) + base
                for grp in rarest_first:
                    if grp.required:
                        continue
                    dense = group_tf(
                        groups_by_tid, grp.member_ids, base, docs_per_shard,
                        clo, chi,
                    )
                    decoded[grp.key] = (
                        dense if dense is not None else _NO_POSTINGS
                    )

        # --- OR-mode in-shard MaxScore pruning (block-max WAND reshaped
        # term-at-a-time): decode groups in ub-DESC order; once the summed
        # upper bound of the remaining groups R cannot lift an untouched doc
        # over the running shard-local theta (k-th best partial), no new doc
        # can enter this shard's top-k — remaining groups decode only blocks
        # overlapping the surviving candidates' doc range (skip pointers).
        # Reference analogue: progressive narrowing,
        # DefaultTargetAssembler.java:92-111.  Exactness: candidates keep
        # complete postings (a skipped block's [first,max] range excludes
        # every candidate), and final accumulation below replays ascending
        # key order, so emitted scores are bitwise-identical to unpruned.
        # MaxScore's theta is the k-th best partial over ALL docs; under a
        # cursor the true emission threshold can be LOWER (high scorers are
        # excluded), so the prune would be unsound — disable it (cursor
        # pages pay the plain exact plan; shard-level pruning stays on, its
        # theta comes from already-cursor-filtered probe results).  The same
        # holds under min_match > 1: theta is then the k-th best partial of
        # docs that may never reach min_match groups, so it can sit above
        # the true emission threshold
        cmask: np.ndarray | None = None
        if mode == "or" and n_groups > 1 and after is None and min_match <= 1:
            ubs = []
            for grp in plan.groups:
                mtf = 0
                for tid in grp.member_ids:
                    g = groups_by_tid.get(tid)
                    if g is not None:
                        mtf += g.max_tf
                if mtf > 0:
                    ubs.append(
                        (term_upper_bound(grp.idf, mtf, k1, b), grp)
                    )
            ubs.sort(key=lambda t: (-t[0], t[1].key))
            prune_score = np.zeros(docs_per_shard, dtype=np.float64)
            cand_range: tuple[int, int] | None = None
            for j, (_, grp) in enumerate(ubs):
                if cmask is None and j > 0:
                    rem = sum(u for u, _ in ubs[j:])
                    nz = prune_score[prune_score > 0.0]
                    if nz.size >= k:
                        theta = np.partition(nz, nz.size - k)[nz.size - k]
                        # small slack absorbs the ub-order/key-order float
                        # summation difference (prune decisions only — the
                        # emitted scores are exact either way)
                        theta -= 1e-9 * max(1.0, abs(theta))
                        if rem < theta:
                            cmask = (prune_score + rem) >= theta
                            cidx = np.flatnonzero(cmask)
                            # cmask/theta are final from here on — fix the
                            # candidate block range once, not per group
                            cand_range = (
                                int(cidx[0]) + base, int(cidx[-1]) + base,
                            ) if cidx.size else (base, base)
                dense = group_tf(
                    groups_by_tid, grp.member_ids, base, docs_per_shard,
                    *(cand_range or ()),
                )
                if dense is None:
                    # every block range-skipped for this group — remember
                    # the outcome so the accumulation loop below does not
                    # fall back to an unrestricted (full) decode
                    decoded[grp.key] = _NO_POSTINGS
                    continue
                decoded[grp.key] = dense
                if cmask is not None:
                    # theta/cmask are never re-derived once fixed: further
                    # prune_score accumulation is pure wasted work on the
                    # scorer hot path
                    continue
                # theta must be computed over ELIGIBLE docs only: a
                # predicate-filtered doc (doclen 0 in norms) is never
                # emitted, so letting it raise theta would over-prune
                nz = np.flatnonzero(dense * (dense_len > 0))
                tf = dense[nz]
                dl = dense_len[nz]
                prune_score[nz] += bm25_weight(grp.idf, tf, dl, k1, b, avgdl)

        # --- scoring: dense accumulation, ascending group key ---
        score = np.zeros(docs_per_shard, dtype=np.float64)
        matched = np.zeros(docs_per_shard, dtype=np.int32)
        presence: dict[int, np.ndarray] = {}
        for grp in by_key:
            dense = decoded.get(grp.key)
            if dense is None:
                dense = group_tf(
                    groups_by_tid, grp.member_ids, base, docs_per_shard
                )
                if dense is None:
                    continue
            if dense.size == 0:  # _NO_POSTINGS under candidate restriction
                continue
            idx = np.flatnonzero(dense)
            if expr is not None:
                presence[grp.key] = dense != 0.0
                if grp.key not in expr.score_keys:
                    continue  # purely negated term: gates matching only
            tf = dense[idx]
            dl = dense_len[idx]
            score[idx] += bm25_weight(grp.idf, tf, dl, k1, b, avgdl)
            if mode != "bool" or grp.required:
                matched[idx] += 1

        # dense_len > 0 doubles as the doc-filter mask: norms rows are built
        # from the (optionally predicate-filtered) doc dictionary, so a doc
        # absent from norms must not be scored (P1-P3 filters apply pre-top-k)
        if expr is not None:
            # nested boolean over the per-group presence masks — whole-shard
            # vectorized; missing groups read as all-false inside the eval
            mask = expr.evaluate(presence, docs_per_shard)
            hit = np.flatnonzero(mask & (dense_len > 0))
        else:
            need = (
                n_groups if mode == "and"
                else n_required if mode == "bool"
                else max(min_match, 1)
            )
            hit = np.flatnonzero((matched >= need) & (dense_len > 0))
        if cmask is not None:
            # docs outside the candidate mask provably cannot reach this
            # shard's top-k (partial + remaining-ub < theta) and may carry
            # incomplete sums — drop them before emission
            hit = hit[cmask[hit]]
        s = score[hit]
        if after is not None:
            # strictly after the (score desc, doc_id asc) cursor; float64
            # scores are deterministic so the equality arm is exact
            cs, cd = after
            keep = (s < cs) | ((s == cs) & ((hit + base) > cd))
            hit, s = hit[keep], s[keep]
        return _shard_topk(hit, s, base, k)

    return score_shard


def _empty_contribs() -> pd.DataFrame:
    return pd.DataFrame(
        {"doc_id": [], "term": [], "tf": [], "c": []}
    ).astype({"doc_id": "int64", "term": "object", "tf": "int64", "c": "float64"})


def _make_contributions(
    plan: QueryPlan,
    docs_per_shard: int,
    term_of_key: dict[int, str],
    doc_ids=None,
):
    """Per-shard BM25 contributions ``(doc_id, term, tf, c)`` (schema
    ``_CONTRIB_SCHEMA``), one row per (doc, scoring group) with group tf > 0
    and doclen > 0 — the scorer's eligibility mask.  ``c`` is the
    ``bm25_weight`` that ``_make_scorer`` adds to the doc's score, so the
    contributions of a doc, summed in ascending group-key order from 0.0,
    equal its search score bit for bit.  ``term_of_key`` names each group;
    ``doc_ids`` (optional) limits the rows to those docs, and the decode to
    the blocks overlapping their range."""
    by_key = sorted(plan.groups, key=lambda g: g.key)
    k1, b, avgdl = plan.k1, plan.b, plan.avgdl
    want = None if doc_ids is None else np.unique(np.asarray(doc_ids, np.int64))

    def contribs(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return _empty_contribs()
        base, dense_len = _shard_norms(right, docs_per_shard)
        groups_by_tid = term_blocks(left)
        rng = () if want is None else (int(want[0]), int(want[-1]))
        parts = []
        for grp in by_key:
            dense = group_tf(
                groups_by_tid, grp.member_ids, base, docs_per_shard, *rng
            )
            if dense is None:
                continue
            idx = np.flatnonzero((dense > 0.0) & (dense_len > 0.0))
            if want is not None:
                idx = idx[np.isin(idx + base, want)]
            tf = dense[idx]
            parts.append(pd.DataFrame({
                "doc_id": (idx + base).astype("int64"),
                "term": term_of_key[grp.key],
                "tf": tf.astype("int64"),
                "c": bm25_weight(grp.idf, tf, dense_len[idx], k1, b, avgdl),
            }))
        if not parts:
            return _empty_contribs()
        return pd.concat(parts, ignore_index=True)

    return contribs


def bm25_contributions(
    postings: DataFrame,
    norms: DataFrame,
    plan: QueryPlan,
    docs_per_shard: int,
    term_of_key: dict[int, str],
    doc_ids=None,
) -> DataFrame:
    """``_make_contributions`` run per shard over the plan's pushed-down
    block scan and the bucketed ``norms``: one cogroup task per shard, no
    decode-and-join against the doc dictionary.  With ``doc_ids`` the scan
    and the norms also carry ``In(shard)`` of those docs' shards."""
    blocks = _posting_blocks(
        postings, sorted({tid for g in plan.groups for tid in g.member_ids})
    )
    if doc_ids is not None:
        in_shards = F.col("shard").isin(
            sorted({d // docs_per_shard for d in doc_ids})
        )
        blocks, norms = blocks.where(in_shards), norms.where(in_shards)
    return _score_shards(
        blocks, norms,
        _make_contributions(plan, docs_per_shard, term_of_key, doc_ids),
        _CONTRIB_SCHEMA,
    )


def term_upper_bound(idf, max_tf, k1: float, b: float):
    """Safe BM25 upper bound for a term given a tf ceiling: the dl -> 0 limit
    of the normalization term (score is decreasing in dl).  Plain
    arithmetic, like :func:`bm25_weight`: over numbers it computes the
    bound, over Spark Columns it builds the equivalent Catalyst expression
    (the shard bounds of the pruned plan's phase 0)."""
    return idf * (max_tf * (k1 + 1.0)) / (max_tf + k1 * (1.0 - b))


def prune_shards_default(n_shards: int, groups) -> bool:
    """The ``prune_shards`` default: shard pruning adds TWO scheduler
    round-trips (metadata phase-0 + probe phase-1) before the scoring job,
    so it pays only when the decode work it can skip exceeds that fixed
    cost.  Decode work is proportional to the candidate posting volume =
    the df sum over ``groups`` (the groups that feed the shard upper
    bound), so prune only when that volume is large AND there are enough
    shards to skip.  Measured: at 120k docs a head-term query is 3x FASTER
    single-pass (0.42s vs 1.17s); at 10^12 docs any head term clears the
    threshold by orders of magnitude and pruning is the only viable plan."""
    return n_shards > 64 and sum(g.df for g in groups) > 2_000_000


def driver_work(n_shards: int, dfs) -> int:
    """The driver arm's cost for a plan whose scan terms (scoring members
    plus NOT-terms) have ``dfs``, in postings.  It reads ``sum(dfs)``
    postings in at most ``sum(min(df, n_shards))`` (term, shard) posting
    lists over at most ``min(sum(dfs), n_shards)`` shards.  Fitted on the
    34 plans in ``fits_driver``, a posting costs ~0.8 us, a list ~0.12 ms
    and a shard ~2 ms; the fit's median error is 9%, its largest 39%
    (plans under 650 ms, which it under-predicts)."""
    volume = sum(dfs)
    lists = sum(min(df, n_shards) for df in dfs)
    return volume + 150 * lists + 2_500 * min(volume, n_shards)


def fits_driver(n_shards: int, dfs) -> bool:
    """Whether a plan runs faster on the driver arm (``bm25_topk_local``)
    than on the Spark arm: its ``driver_work`` is at most 1.4M.

    That bound is the lowest measured crossover: on 2 shards the driver
    arm wins at 1.33M (1,087 / 1,470 ms) and ties at 1.53M (1,331 /
    1,302).  With more shards the Spark arm has more tasks to spread and
    the crossover sits higher, so the bound sends some plans to Spark
    that the driver would answer faster: on 64 shards the driver
    wins at 1.46M (1,050 / 1,246) and 2.08M (1,589 / 1,683), ties at 1.82M
    (125 terms, 1,564 / 1,563) and loses at 2.46M (1,961 / 1,615); on 16
    shards it ties at 2.34M (2,075 / 1,962).  Every admitted plan below
    ran faster on the driver, every plan the Spark arm won is refused:
    - 2 shards: 0.13M-1.33M, 172-1,087 / 612-1,470 ms;
    - 16 shards: 0.23M-1.16M, 264-1,054 / 1,095-1,575 ms;
    - 64 shards: 0.28M-1.05M, 291-904 / 962-1,966 ms;
    - 375 shards, 32-360 rare terms (36-419 postings): 0.09M-0.99M,
      89-808 / 1,373-2,581 ms.
    Measured on a 4-core box, ``local[4]``, warm engine,
    ``generate_corpus(n, seed=1)`` with n = 12k or 64k, OR plans of the
    most frequent terms (of one rare term per shard on 375 shards), k = 10,
    median of 5 ``search().collect()``, driver / Spark arm
    (``tools/arm_crossover.py``).

    ``SearchEngine.msearch`` applies the same rule to the dfs of every
    live plan in a batch.  Measured as above (``tools/arm_crossover.py
    msearch``: batches of two-term OR queries of mid or head terms, median
    of 5 ``msearch().collect()``, driver / Spark ms):
    - 12k docs, 2 shards: 2, 8, 32 and 128 mid queries, 0.01M-0.19M,
      76-1,157 / 652-1,870; 2, 8 and 32 head queries, 0.05M-0.37M,
      107-716 / 662-1,033;
    - 64k docs, 16 shards: 2, 8 and 32 mid queries, 0.06M-0.38M,
      141-1,069 / 860-1,219; 2 and 8 head queries, 0.29M-0.85M, 329-1,127
      / 1,031-1,401; 32 head queries, 2.05M, refused, 3,030 / 2,410.
    One measured batch goes to the slower arm: 128 mid queries on 16
    shards (1.23M) took 5,205 ms on the driver and 4,183 on Spark.
    ``driver_work`` counts a batch's shards once, but the driver arm
    unpacks each touched shard's norms once per plan, so many small plans
    over many shards cost it more than the rule says."""
    return driver_work(n_shards, dfs) <= 1_400_000


def plan_mode(
    plan: QueryPlan, mode: str, min_match: int = 1, expr=None
) -> str | None:
    """The driver-side early exits both arms take before any read: None
    when the plan provably has no hit, else the mode the kernel runs."""
    if mode == "expr":
        # nested boolean expression (query/boolquery.py).  A match provably
        # contains >= 1 POSITIVE (even-parity) term unless the expression
        # accepts the all-absent document (monotonicity: odd-parity terms
        # can only turn a false match falser)
        if expr is None:
            raise ValueError("mode='expr' requires an ExprSpec")
        if not expr.widen and not (
            expr.score_keys & {g.key for g in plan.groups}
        ):
            return None
        return mode
    if (
        plan.empty_or
        or (mode in ("and", "bool") and plan.empty_and)
        or min_match > len(plan.groups)
    ):
        # NB: an absent-from-vocabulary MUST clause empties the result
        # (checked BEFORE the no-MUST degradation below — n_required == 0
        # with n_absent > 0 means the MUST side existed but matched nothing)
        return None
    if mode == "bool" and plan.n_required == 0:
        return "or"  # the user gave no MUST clause -> pure disjunction
    return mode


def bm25_topk_local(
    blocks: pd.DataFrame,
    norms: pd.DataFrame,
    plan: QueryPlan,
    docs_per_shard: int,
    k: int = 10,
    mode: str = "or",
    exclude_ids=(),
    after: tuple[float, int] | None = None,
    min_match: int = 1,
) -> pd.DataFrame:
    """The driver arm of ``bm25_topk_daat`` (no ``expr``, no shard
    pruning): top-k (doc_id, score) of the same per-shard kernel, run
    in-process over ``blocks`` (``BLOCK_COLS`` rows of the scan terms:
    scoring members plus ``exclude_ids``) and ``norms`` (packed rows of
    at least the shards in ``blocks``).  A shard with blocks but no norms
    row scores nothing, as in the cogroup.  Bit-identical to the Spark
    arm: same exits, same kernel, same (score desc, doc_id asc) order."""
    mode = plan_mode(plan, mode, min_match)
    if mode is None or len(blocks) == 0:
        return _empty_pdf()
    scorer = _make_scorer(
        plan, docs_per_shard, k, mode, tuple(sorted(set(exclude_ids))),
        after=after, min_match=min_match,
    )
    norms_of = {int(s): g for s, g in norms.groupby("shard", sort=False)}
    parts = [
        scorer(left, norms_of[int(s)])
        for s, left in blocks.groupby("shard", sort=False)
        if int(s) in norms_of
    ]
    parts = [p for p in parts if len(p)]
    if not parts:
        return _empty_pdf()
    return (
        pd.concat(parts, ignore_index=True)
        .sort_values(["score", "doc_id"], ascending=[False, True])
        .head(k)
        .reset_index(drop=True)
    )


def bm25_topk_daat(
    spark: SparkSession,
    postings: DataFrame,
    norms: DataFrame,
    plan: QueryPlan,
    docs_per_shard: int,
    k: int = 10,
    mode: str = "or",
    prune_shards: bool = True,
    probe_shards: int = 8,
    exclude_ids: list[int] | None = None,
    after: tuple[float, int] | None = None,
    expr=None,
    min_match: int = 1,
) -> DataFrame:
    """Top-k (doc_id, score) via sharded DAAT.  Deterministic.

    ``min_match`` (mode='or'): a hit must match at least this many scoring
    groups — 1 is plain OR, len(plan.groups) is AND.  Groups ABSENT from
    the corpus count toward nothing: a 3-term query with one absent term
    and min_match=3 is unanswerable and returns empty.

    ``prune_shards`` enables the engine's block-max pruning lifted to shard
    granularity — WAND re-shaped for Spark's execution model (classic WAND
    drives per-term cursors from a single thread; in a distributed plan the
    equivalent skip decision must be made per *task*):

      phase 0: scan only the posting-block METADATA (term_id, shard,
               block_max_tf — column pruning keeps payloads unread) and
               compute each shard's score upper bound
               ub(shard) = sum_g ub(g, shard) over expansion groups, where
               a group's tf ceiling is the sum of its members' block maxima;
      phase 1: fully score the ``probe_shards`` most promising shards ->
               threshold theta = k-th best score found;
      phase 2: score only the remaining shards with ub > theta.

    Exactness: ub is a true upper bound (dl->0 limit, true block-max tf,
    max_d sum_m tf_m(d) <= sum_m max_d tf_m(d)), so a pruned shard cannot
    contain a top-k doc; results are identical to the unpruned plan.  Within-
    shard AND queries additionally skip blocks by doc-range (cursor-style
    skip pointers).
    """
    run_mode = plan_mode(plan, mode, min_match, expr)
    if run_mode is None:
        return local_frame(spark, [], _RESULT_SCHEMA)
    if mode == "expr" and expr.widen:
        # widening answers are corpus-sized in the match-set sense; every
        # norms shard must be scored (including posting-less ones, via the
        # full-outer cogroup), so shard pruning is off by construction
        prune_shards = False
    mode = run_mode
    all_ids = sorted({tid for g in plan.groups for tid in g.member_ids})
    if len(all_ids) < sum(len(g.member_ids) for g in plan.groups):
        # a term shared by two expansion groups would make the phase-0
        # member->group map ambiguous (ub no longer a true upper bound);
        # fall back to the exact unpruned plan for this rare shape
        prune_shards = False
    exclude_ids = sorted(set(exclude_ids or []))
    # excluded terms' blocks ride the same pushed-down scan + shard cogroup
    # as the scoring terms (their doc ids mask eligibility shard-locally);
    # shard upper bounds stay true upper bounds — exclusion only removes docs
    scan_ids = sorted(set(all_ids) | set(exclude_ids))
    blocks = _posting_blocks(postings, scan_ids)
    scorer = _make_scorer(
        plan, docs_per_shard, k, mode, tuple(exclude_ids), after=after,
        expr=expr, min_match=min_match,
    )

    def score_blocks(b: DataFrame) -> DataFrame:
        return _score_shards(b, norms, scorer)

    if not prune_shards:
        scored = score_blocks(blocks)
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # phase 0: shard upper bounds from block metadata only (payload unread).
    # member term_id -> (group key, group idf) mapping as literal maps.
    # mode='expr': only POSITIVE groups score, so only they feed the upper
    # bound — and a shard without any positive-term posting cannot produce
    # a match (non-widening expressions only reach here), so candidacy is
    # decided over positive groups alone; negative-term blocks still ride
    # the scoring scan for the surviving shards.
    ub_groups = (
        [g for g in plan.groups if g.key in expr.score_keys]
        if mode == "expr" else plan.groups
    )
    key_of = {
        tid: g.key for g in ub_groups for tid in g.member_ids
    }
    idf_of_key = {g.key: g.idf for g in ub_groups}
    key_map = F.create_map(
        *[x for tid, gk in key_of.items() for x in (F.lit(tid), F.lit(gk))]
    )
    idf_map = F.create_map(
        *[x for gk, w in idf_of_key.items() for x in (F.lit(gk), F.lit(w))]
    )
    meta = (
        postings.where(F.col("term_id").isin(sorted(key_of)))
        .groupBy("shard", "term_id")
        .agg(F.max("block_max_tf").alias("mtf"))
        .withColumn("gkey", key_map[F.col("term_id")])
        .groupBy("shard", "gkey")
        .agg(F.sum("mtf").alias("gtf_ub"))
    )
    tfub = term_upper_bound(
        idf_map[F.col("gkey")], F.col("gtf_ub"), plan.k1, plan.b
    )
    shard_ub = (
        meta.withColumn("tub", tfub)
        .groupBy("shard")
        .agg(F.sum("tub").alias("ub"), F.count("*").alias("n_groups_present"))
    )
    if mode == "and":
        shard_ub = shard_ub.where(F.col("n_groups_present") == len(plan.groups))
    elif mode == "bool":
        # a shard missing any REQUIRED group cannot produce a hit; optional
        # groups still feed its ub (true upper bound either way)
        req_keys = [g.key for g in plan.groups if g.required]
        req_present = (
            meta.where(F.col("gkey").isin(req_keys))
            .groupBy("shard")
            .agg(F.count("*").alias("n_req"))
            .where(F.col("n_req") == len(req_keys))
            .select("shard")
        )
        shard_ub = shard_ub.join(req_present, on="shard", how="left_semi")
    # phase 1: probe the most promising shards (tiny collect: probe_shards rows)
    probe = [
        r["shard"]
        for r in shard_ub.orderBy(F.desc("ub"), F.asc("shard"))
        .limit(probe_shards)
        .collect()
    ]
    if not probe:
        return local_frame(spark, [], _RESULT_SCHEMA)
    first = score_blocks(blocks.where(F.col("shard").isin(probe))).orderBy(
        F.desc("score"), F.asc("doc_id")
    ).limit(k)
    rows = first.toPandas()
    theta = float(rows["score"].iloc[-1]) if len(rows) >= k else float("-inf")
    # phase 2: only shards whose upper bound beats theta can change the top-k
    remaining = shard_ub.where(
        (~F.col("shard").isin(probe)) & (F.col("ub") > theta)
    ).select("shard")
    second = score_blocks(
        blocks.join(remaining, on="shard", how="left_semi")
    )
    merged = local_frame(spark, rows, _RESULT_SCHEMA).unionByName(second)
    return merged.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
