"""SearchEngine — the user-facing facade (the ``Strucmotif`` entry point
analogue, strucmotif-search-core Strucmotif.java:27-37).

Wraps a published IndexStore generation and exposes:
- ``search(query, k, mode)``      — BM25 top-k via the DAAT kernel, hits
                                    joined to document metadata (late
                                    materialization);
- ``search_min_match(query, m, k)``— m-of-n relaxed conjunction, same kernel;
- exact stats accessors (df/cf/avgdl) for tests and planning.

The engine opens with pyarrow reads: ``_meta.json`` and the one ``stats``
row; the Spark frames (``doc_map``, ``terms``, ``stats``, ``postings``, the
cached bucketed ``norms``) are built on first Spark-arm use.  So an open
launches no Spark job.

``search``, ``search_min_match`` and ``msearch`` run the DAAT kernel on one
of two arms (query/daat.py), picked by ``daat.fits_driver``: a small plan
(batch) is scored on the driver over pyarrow reads of only its own rows and
returned as an Arrow-built frame (no Spark job); a large one, or one with a
``doc_predicate``, runs the Spark cogroup arm.  One kernel, so both arms
answer bit-identically.
"""

from __future__ import annotations

from functools import cached_property

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import StructField, StructType

from .build.index_store import IndexStore, scan_postings
from .query import daat
from .query.planner import QueryPlan, plan_query
from .session import local_frame

# the metadata columns a hit is joined to (late materialization)
_META_COLS = ("doc_id", "repo", "path", "commit", "lang")


def collect_with_timeout(spark: SparkSession, fn, timeout_s: float):
    """Run ``fn()`` (a search plus its collect) under a job group; cancel
    the group and raise TimeoutError if it exceeds ``timeout_s``.  Spark
    tasks are interrupted; driver-side work in flight is abandoned on its
    daemon thread and its result dropped.

    ``fn`` may run several actions in a row (the pruned Spark arm runs
    three), and ``cancelJobGroup`` stops only the jobs running when it is
    called.  So the group is cancelled with its future jobs, which refuses
    any action ``fn`` starts after the timeout, and the cancel is repeated
    every 50 ms until the thread exits, which also stops the shuffle-stage
    jobs an action submits before its own (the refusal does not cover
    them).  The call waits up to 0.5 s for the thread to unwind, then
    raises either way."""
    import threading
    import uuid

    group = f"timed-{uuid.uuid4().hex[:8]}"
    sc = spark.sparkContext
    out: list = []
    err: list = []

    def run() -> None:
        sc.setJobGroup(group, "timed query", interruptOnCancel=True)
        try:
            out.append(fn())
        except Exception as e:  # noqa: BLE001 — surfaced to caller below
            err.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive():

        def reap() -> None:
            while t.is_alive():
                # PySpark does not wrap this SparkContext method (Spark >= 4)
                sc._jsc.sc().cancelJobGroupAndFutureJobs(group)
                t.join(0.05)

        reaper = threading.Thread(target=reap, daemon=True)
        reaper.start()
        reaper.join(0.5)
        raise TimeoutError(
            f"query exceeded {timeout_s}s; job group {group} cancelled"
        )
    if err:
        raise err[0]
    return out[0]


def _expansion_members(
    matches: DataFrame, max_expansions: int, too_many: str
) -> list[str]:
    """The sorted ``term`` values of a filtered terms table: the members a
    multi-term query expands to.  Collects at most ``max_expansions + 1``
    rows and raises ``ValueError(too_many)`` when there are more than
    ``max_expansions`` (the Lucene blowup guard)."""
    rows = (
        matches.select("term").orderBy("term").limit(max_expansions + 1)
        .collect()
    )
    if len(rows) > max_expansions:
        raise ValueError(too_many)
    return [r["term"] for r in rows]


class SearchEngine:
    def __init__(
        self, spark: SparkSession, store: IndexStore, gen: str | None = None
    ):
        """``gen`` pins the engine at a specific published generation —
        the Iceberg time-travel read (``VERSION AS OF``): every table this
        engine touches resolves against that immutable snapshot, so queries
        against historical generations run concurrently with (and entirely
        unaffected by) later ADD/REMOVE/compact commits.  Default: the
        CURRENT pointer at construction time (note generations are
        immutable, so even the default engine is snapshot-stable — a
        concurrent publish never changes what an existing engine reads).
        Mutating helpers (``delete_by_query``) always commit against
        CURRENT and refuse to run on a pinned historical engine."""
        self.spark = spark
        self.store = store
        # resolve the pointer ONCE: all reads below go through self.gen, so
        # the engine is a consistent snapshot even if CURRENT flips mid-init
        # (`is None` test, not truthiness: gen="" must fail loudly below,
        # not silently resolve to CURRENT while claiming to be pinned)
        self.gen = store.current_gen() if gen is None else gen
        if self.gen is None:
            raise FileNotFoundError(f"no published index under {store.root}")
        self._pinned = gen is not None
        gen_dir = store.root / self.gen
        if not gen_dir.is_dir():
            raise FileNotFoundError(f"generation {self.gen!r} not found")
        self.meta = store.meta(self.gen)
        # global stats are a single row: read it once, with pyarrow (the
        # same fields and float64 values as ``self.stats.first()``)
        self._stats_row = Row(**ds.dataset(
            store.table_path("stats", self.gen), format="parquet"
        ).to_table().to_pylist()[0])
        # driver-side vocabulary cache: repeated queries must not pay a Spark
        # job for a dictionary lookup (the reference precomputes exactly this
        # as its informativeness table, ResiduePairOccurrence.java:230-463).
        # term -> (term_id, df, cf); hot entries AND negative lookups are
        # memoized; only cache misses read the terms table (a pyarrow
        # pushdown read — the table is written sorted by term).
        self._vocab: dict[str, tuple[int, int, int] | None] = {}
        # per-predicate norms cache (P3 search-space filters): building the
        # filtered norms sidecar is a corpus-wide job — pay it once per
        # distinct predicate, not once per query.  Bounded LRU: each entry
        # pins a corpus-wide sidecar in executor memory, so a long-lived
        # engine serving many distinct predicates must evict (unpersist)
        # rather than grow without bound.
        from collections import OrderedDict

        self._pred_norms: OrderedDict[str, DataFrame] = OrderedDict()
        self._pred_norms_cap = 8
        # the generation's token analyzer — query strings are run through
        # the SAME analysis (driver-side replica) before planning, so a
        # code-analyzed index answers 'getFoo' as get+foo
        self.analyzer = self.meta.get("analyzer", "standard")
        # derived field-posting cache (fielded_search): field name ->
        # (persisted postings DF, (n_docs, avg_fieldlen)).  Bounded by the
        # doc_map's handful of string columns, so no eviction needed.
        self._field_cache: dict[str, tuple[DataFrame, tuple[int, float]]] = {}

    # ---- Spark frames, built on first Spark-arm use ------------------------
    @cached_property
    def doc_map(self) -> DataFrame:
        return self.store.read_table(self.spark, "doc_map", self.gen)

    @cached_property
    def terms(self) -> DataFrame:
        return self.store.read_table(self.spark, "terms", self.gen)

    @cached_property
    def stats(self) -> DataFrame:
        return self.store.read_table(self.spark, "stats", self.gen)

    @cached_property
    def norms(self) -> DataFrame:
        """One compact row per shard, cached (the reference similarly keeps
        per-doc data resident, DefaultStructureDataProvider.java:202).  A
        bucket-aware read: hash(shard)-clustered from the scan, so the
        per-query cogroup with (equally bucketed) postings is exchange-free;
        the cache preserves the child partitioning."""
        return self.store.read_bucketed(self.spark, "norms", self.gen).cache()

    @cached_property
    def postings(self) -> DataFrame:
        return self.store.read_postings(self.spark, self.gen)

    # ---- planning ------------------------------------------------------
    def _term_stats(self, terms: list[str]) -> dict[str, tuple[int, int, int]]:
        """{term: (term_id, df, cf)} for the vocabulary terms among
        ``terms``; misses are read once from the terms table."""
        misses = sorted({t for t in terms if t not in self._vocab})
        if misses:
            rows = self._arrow_table(
                "terms", ("term", "term_id", "df", "cf"),
                pc.field("term").isin(misses),
            ).to_pylist()
            found = {
                r["term"]: (int(r["term_id"]), int(r["df"]), int(r["cf"]))
                for r in rows
            }
            for t in misses:
                self._vocab[t] = found.get(t)  # None memoizes absence
        return {t: v for t in terms if (v := self._vocab[t]) is not None}

    def _vocab_lookup(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        return {
            t: (tid, df) for t, (tid, df, _cf) in self._term_stats(terms).items()
        }

    # ---- driver-arm reads ----------------------------------------------
    # pyarrow datasets over this generation's files, opened once: a
    # generation is immutable.  Every read filters on the table's sort key
    # (term, term_id, shard, doc_id), so row-group statistics prune it.
    @cached_property
    def _datasets(self) -> dict[str, ds.Dataset]:
        return {
            name: ds.dataset(self.store.table_path(name, self.gen), format="parquet")
            for name in ("terms", "norms", "doc_map")
        }

    @cached_property
    def _posting_datasets(self) -> list[tuple[ds.Dataset, list[int]]]:
        return self.store.posting_datasets(self.gen)

    def _arrow_table(self, name: str, columns, where) -> pa.Table:
        return self._datasets[name].to_table(columns=list(columns), filter=where)

    def _local_blocks(self, term_ids: list[int]) -> pd.DataFrame:
        """The scan terms' posting blocks from every posting part, each
        ref part minus its excluded shards."""
        if not term_ids or not self._posting_datasets:
            return pd.DataFrame(columns=list(daat.BLOCK_COLS))
        tables = scan_postings(
            self._posting_datasets, daat.BLOCK_COLS,
            pc.field("term_id").isin(term_ids),
        )
        return pa.concat_tables(tables, promote_options="permissive").to_pandas()

    def _local_topk(
        self, plan: QueryPlan, k: int, mode: str, exclude_ids: list[int],
        after, min_match: int,
    ) -> pd.DataFrame:
        """The driver arm: read the plan's blocks, then the norms of the
        shards they touch, and score them with the shared kernel."""
        if daat.plan_mode(plan, mode, min_match) is None:
            return daat._empty_pdf()  # provably no hit: read nothing
        scan_ids = sorted(
            {t for g in plan.groups for t in g.member_ids} | set(exclude_ids)
        )
        blocks = self._local_blocks(scan_ids)
        return daat.bm25_topk_local(
            blocks, self._local_norms(blocks), plan,
            self.meta["docs_per_shard"], k, mode, exclude_ids, after,
            min_match,
        )

    def _local_norms(self, blocks: pd.DataFrame) -> pd.DataFrame:
        """The packed norms rows of the shards ``blocks`` touch."""
        touched = sorted(int(s) for s in blocks["shard"].unique())
        if not touched:
            return pd.DataFrame(columns=["shard", "doc_gaps", "doclens"])
        return self._arrow_table(
            "norms", ("shard", "doc_gaps", "doclens"),
            pc.field("shard").isin(touched),
        ).to_pandas()

    @cached_property
    def _meta_fields(self) -> list[StructField]:
        """The metadata columns a hit is joined to, typed as Spark reads
        them from ``doc_map`` (parquet columns read back nullable)."""
        schema = self._datasets["doc_map"].schema
        return [
            StructField(c, from_arrow_type(schema.field(c).type), True)
            for c in _META_COLS[1:]
        ]

    @cached_property
    def _meta_schema(self) -> StructType:
        """The columns and types ``_materialize`` returns."""
        return StructType(
            StructType.fromDDL(daat._RESULT_SCHEMA).fields + self._meta_fields
        )

    def _local_meta(self, hits: pd.DataFrame) -> pd.DataFrame:
        """``_materialize`` on the driver: inner-join the winners' metadata
        from a doc_id-filtered doc_map read, in the result order."""
        meta = self._arrow_table(
            "doc_map", _META_COLS,
            pc.field("doc_id").isin(hits["doc_id"].tolist()),
        ).to_pandas()
        return hits.merge(meta, on="doc_id", how="inner").reset_index(drop=True)

    def _topk(
        self,
        plan: QueryPlan,
        k: int,
        mode: str = "or",
        with_meta: bool = True,
        exclude: dict[str, tuple[int, int]] | None = None,
        offset: int = 0,
        after: tuple[float, int] | None = None,
        min_match: int = 1,
        doc_predicate=None,
        prune_shards: bool | None = None,
    ) -> DataFrame:
        """BM25 top-k of ``plan`` (ranks ``offset`` .. ``offset + k``) on
        the arm ``daat.fits_driver`` picks; ``exclude`` is the NOT-terms'
        {term: (term_id, df)}.  Both arms answer bit-identically."""
        exclude_ids = sorted(tid for tid, _df in (exclude or {}).values())
        dfs = plan.dfs + [df for _tid, df in (exclude or {}).values()]
        if doc_predicate is None and daat.fits_driver(
            self.meta.get("n_shards") or 0, dfs
        ):
            hits = self._local_topk(
                plan, k + offset, mode, exclude_ids, after, min_match
            ).iloc[offset:]
            if not with_meta:
                return local_frame(self.spark, hits, daat._RESULT_SCHEMA)
            return local_frame(
                self.spark, self._local_meta(hits), self._meta_schema
            )
        norms = self.norms
        if doc_predicate is not None:
            # public key derivation: str(Column) renders the expression tree
            # (works under classic and Connect; no private _jc access)
            key = str(doc_predicate)
            if key in self._pred_norms:
                self._pred_norms.move_to_end(key)
            else:
                from .build.norms import build_norms

                self._pred_norms[key] = build_norms(
                    self.doc_map.where(doc_predicate)
                ).cache()
                while len(self._pred_norms) > self._pred_norms_cap:
                    _, evicted = self._pred_norms.popitem(last=False)
                    evicted.unpersist()
            norms = self._pred_norms[key]
        if prune_shards is None:
            prune_shards = daat.prune_shards_default(
                self.meta.get("n_shards") or 0, plan.groups
            )
        hits = daat.bm25_topk_daat(
            self.spark,
            self.postings,
            norms,
            plan,
            docs_per_shard=self.meta["docs_per_shard"],
            k=k + offset,
            mode=mode,
            prune_shards=prune_shards,
            exclude_ids=exclude_ids or None,
            after=after,
            min_match=min_match,
        )
        if offset:
            hits = hits.offset(offset)
        return self._materialize(hits, k) if with_meta else hits

    def plan(
        self,
        query: str,
        expansions: dict[str, list[str]] | None = None,
        should: str = "",
    ) -> QueryPlan:
        return plan_query(
            query,
            self._stats_row,
            self._vocab_lookup,
            expansions=expansions,
            should=should,
        )

    # ---- search ----------------------------------------------------------
    def search(
        self,
        query: str,
        k: int = 10,
        mode: str = "or",
        with_meta: bool = True,
        doc_predicate=None,
        prune_shards: bool | None = None,
        expansions: dict[str, list[str]] | None = None,
        exclude: str | None = None,
        should: str | None = None,
        offset: int = 0,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """BM25 top-k via the DAAT kernel, on the driver arm for a small plan
        (``daat.fits_driver``) and on the Spark arm otherwise; both answer
        bit-identically.

        ``offset``: pagination — skip the first ``offset`` ranked hits and
        return the next ``k`` (SQL LIMIT k OFFSET n semantics under the
        engine's total order: score desc, doc_id asc).  Implemented as a
        deep-k query: the DAAT path retrieves the top ``k + offset`` (its
        per-shard heaps, shard pruning thetas and tie handling all size to
        the deeper k) and the offset is applied to the globally merged
        order — the standard deep-pagination shape; cost grows with
        ``k + offset``, as it must for a total-order contract.

        ``after``: cursor pagination (the Elasticsearch ``search_after``
        shape) — ``(score, doc_id)`` of the previous page's LAST hit;
        returns the next ``k`` hits strictly after that cursor in the total
        order.  Unlike ``offset``, the cursor filter applies inside the
        per-shard scorer BEFORE the top-k heaps, so page N costs the same
        as page 1 (the in-shard MaxScore prune is disabled for cursor
        pages — its threshold would be unsound under exclusion-from-above
        — but shard-level pruning stays active).  Scores are deterministic
        float64, so the cursor's equality arm is exact across pages.
        Mutually exclusive with ``offset``.

        ``should``: SHOULD-clause terms (Lucene BooleanQuery): when given,
        ``query`` supplies the MUST clauses and the engine runs in boolean
        mode — a hit must contain every MUST group, SHOULD groups add to the
        score without filtering (absent SHOULD terms are no-ops).  ``mode``
        is ignored in that case; with an empty/absent-only MUST side the
        query degrades to a pure disjunction over the SHOULD terms.
        Composes with ``exclude`` (= MUST_NOT) for the full
        MUST/SHOULD/MUST_NOT clause triple.

        ``exclude``: NOT-term clause — documents containing ANY of these
        terms (same frozen tokenizer rule) are removed from the result set
        BEFORE top-k selection; global BM25 statistics (idf, avgdl, N) are
        untouched.  The term-level lift of the P2 blacklist anti-join,
        executed shard-locally inside the DAAT kernel (query/daat.py): the
        excluded terms' posting blocks ride the same pushed-down scan and
        zero their docs out of the eligibility mask.  Absent excluded terms
        are no-ops; an excluded term that is also a query term simply
        removes its own matches (AND mode therefore yields the empty set).

        ``doc_predicate``: optional Column over doc_map rows (e.g.
        ``F.col('lang') == 'py'``) — the search-space filter (P3 analogue,
        DefaultTargetAssembler.java:159-162).  Implemented by masking norms:
        docs outside the predicate get doclen 0 in the scorer's dense array
        and are never scored, so the filter applies BEFORE top-k.  A
        predicate always runs the Spark arm.
        ``prune_shards``: shard-level block-max pruning; default = on when
        the index has enough shards for a 2-phase plan to pay off.  Spark
        arm only: the driver arm reads only the plan's shards anyway.
        ``expansions``: per-term synonym lists (A4 query expansion,
        ResiduePairOccurrence.java:166-227): each query term and its
        expansions form one scoring group whose posting lists are unioned
        (tf sums, df = max member df — Lucene SynonymQuery convention).
        """
        from .oracle import tokenize
        from .tokenizer import analyze_text

        query = analyze_text(query, self.analyzer)
        if exclude:
            exclude = analyze_text(exclude, self.analyzer)
        if should is not None:
            should = analyze_text(should, self.analyzer)
            if not tokenize(should):
                # a no-op SHOULD clause ('' or pure punctuation) must not
                # flip the query into bool mode — with zero SHOULD groups
                # every group would become MUST and an OR query silently
                # turns into a full conjunction
                should = None
        plan = self.plan(query, expansions=expansions, should=should or "")
        if should is not None:
            mode = "bool"
        if offset and after is not None:
            raise ValueError("offset and after are mutually exclusive")
        return self._topk(
            plan, k, mode, with_meta=with_meta,
            exclude=self._vocab_lookup(sorted(set(tokenize(exclude))))
            if exclude else None,
            offset=offset, after=after, doc_predicate=doc_predicate,
            prune_shards=prune_shards,
        )

    def prefix_search(
        self,
        query: str,
        k: int = 10,
        mode: str = "or",
        max_expansions: int = 128,
        **kw,
    ) -> DataFrame:
        """Trailing-wildcard query: each token ending in ``*`` expands to ALL
        vocabulary terms sharing its prefix, scored as ONE expansion group
        (tf = sum of member tfs, df = max member df) — the Lucene
        PrefixQuery → blended SynonymQuery rewrite, reusing the A4 expansion
        machinery (plan_query groups / DAAT group_tf union).

        The vocabulary probe is a pushed-down ``StartsWith`` range scan of
        the terms table (dictionary-sized, driver-cached thereafter via the
        vocab cache for exact terms; the prefix row set itself is ≤
        ``max_expansions`` rows).  More than ``max_expansions`` matching
        terms raises — a one-character prefix over a web-scale vocabulary
        is a query-cost bomb the engine refuses rather than silently
        truncates (Lucene's maxExpansions guard).  A wildcard with NO
        matching vocabulary term contributes an absent group: ignored under
        OR, empties the result under AND.  A plain token that also appears
        as a member of a wildcard group merges into that group (documented
        planner dedup semantics).
        """
        return self._multiterm_search(
            query, "*", "wildcard prefix",
            lambda prefix: self.terms.where(F.col("term").startswith(prefix)),
            max_expansions, k=k, mode=mode, **kw,
        )

    def fuzzy_search(
        self,
        query: str,
        k: int = 10,
        mode: str = "or",
        max_dist: int = 1,
        max_expansions: int = 64,
        **kw,
    ) -> DataFrame:
        """Fuzzy query: each token ending in ``~`` expands to ALL vocabulary
        terms within Levenshtein distance ``max_dist`` of it, scored as ONE
        expansion group (tf = sum of member tfs, df = max member df) — the
        Lucene FuzzyQuery → blended SynonymQuery rewrite, reusing the A4
        expansion machinery (the reference's tolerance expansion,
        ResiduePairOccurrence.java:166-227, where one query term admits a
        neighborhood of compatible index terms).

        The vocabulary probe stays JVM-side: a pushed-down
        ``length(term) BETWEEN len±d`` range pre-filter (parquet min/max
        pruning on the dictionary-sized terms table) followed by the
        built-in ``levenshtein`` expression — no Python UDF, no collect of
        the vocabulary.  More than ``max_expansions`` matches raises (the
        Lucene maxExpansions guard): a 1-character fuzzy token over a
        web-scale vocabulary is a query-cost bomb the engine refuses rather
        than silently truncates.  A fuzzy token with NO vocabulary match
        within distance contributes an absent group (ignored under OR,
        empties the result under AND).
        """

        def probe(base: str) -> DataFrame:
            return self.terms.where(
                F.length("term").between(
                    len(base) - max_dist, len(base) + max_dist
                )
            ).where(
                # bounded DP: the 3-arg levenshtein early-exits rows whose
                # distance exceeds the threshold (returns -1 for those)
                F.levenshtein(F.col("term"), F.lit(base), max_dist).between(
                    0, max_dist
                )
            )

        return self._multiterm_search(
            query, "~", "fuzzy token", probe, max_expansions,
            k=k, mode=mode, **kw,
        )

    def _multiterm_search(
        self,
        query: str,
        suffix: str,
        what: str,
        probe,
        max_expansions: int,
        **search_kw,
    ) -> DataFrame:
        """The prefix/fuzzy multi-term rewrite: each token ending in
        ``suffix`` expands to the vocabulary terms ``probe(stem)`` selects
        (a filtered terms table), blended into ONE expansion group; every
        other token passes through.  More than ``max_expansions`` members
        raises; no member leaves the stem as an absent group."""
        from .oracle import tokenize

        base_tokens: list[str] = []
        expansions: dict[str, list[str]] = {}
        for raw in query.split():
            if not (raw.endswith(suffix) and len(raw) > 1):
                base_tokens.append(raw)
                continue
            stem = raw[:-1]
            toks = tokenize(stem)
            if len(toks) != 1 or toks[0] != stem:
                raise ValueError(f"invalid {what} {raw!r}")
            members = _expansion_members(
                probe(stem), max_expansions,
                f"{raw!r} expands to more than {max_expansions} terms",
            )
            if not members:
                base_tokens.append(stem)  # absent group
                continue
            base_tokens.append(members[0])
            if members[1:]:
                expansions.setdefault(members[0], []).extend(members[1:])
        return self.search(
            " ".join(base_tokens), expansions=expansions or None, **search_kw
        )

    def regex_search(
        self,
        pattern: str,
        extra_terms: str = "",
        k: int = 10,
        mode: str = "or",
        max_expansions: int = 128,
        **kw,
    ) -> DataFrame:
        """Regex term query (Lucene RegexpQuery): every vocabulary term
        fully matching ``pattern`` forms ONE blended expansion group
        (tf = sum of member tfs, df = max member df), optionally combined
        with plain ``extra_terms`` — the third member of the
        prefix/fuzzy/regex multi-term rewrite family, all riding the A4
        expansion machinery.

        The vocabulary probe is a JVM ``rlike`` scan of the
        dictionary-sized terms table with the match anchored to the full
        term (``^pattern$``) — dictionary-bounded at any corpus scale.
        Keep patterns within the portable subset (char classes,
        alternation, quantifiers) if results must replay identically
        across regex engines.  ``max_expansions`` raises on blowup (the
        Lucene guard); a pattern matching nothing contributes an absent
        group (ignored under OR, empties the result under AND).
        """
        members = _expansion_members(
            self.terms.where(F.col("term").rlike(f"^(?:{pattern})$")),
            max_expansions,
            f"{pattern!r} matches more than {max_expansions} terms",
        )
        base_tokens = list(extra_terms.split())
        expansions: dict[str, list[str]] = {}
        if members:
            base_tokens.append(members[0])
            if members[1:]:
                expansions[members[0]] = members[1:]
        elif mode == "and" or not base_tokens:
            # absent group: empties the conjunction; with no other terms
            # the disjunction is empty too
            return self._no_hits(k, kw.get("with_meta", True))
        return self.search(
            " ".join(base_tokens), k=k, mode=mode,
            expansions=expansions or None, **kw,
        )

    def ql_search(
        self,
        query: str,
        k: int = 10,
        mu: float | None = None,
        with_meta: bool = True,
    ) -> DataFrame:
        """Top-k under Dirichlet-smoothed query likelihood (query/ql.py) —
        the second ranking model over the same index artifacts (the
        reference's alternative ScoringFunction).  Candidates are docs
        matching >=1 query term; absent-from-vocabulary terms are dropped
        (vocabulary gate, same as the BM25 planner).  Rides the identical
        pushed-down posting scan + bucketed-norms cogroup as BM25 — no new
        index artifact, no extra shuffle."""
        from .oracle import tokenize
        from .query.ql import QL_MU, ql_topk
        from .tokenizer import analyze_text

        query = analyze_text(query, self.analyzer)
        # absent terms drop out of the vocabulary lookup
        term_cfs = sorted(
            (tid, cf)
            for tid, _df, cf in self._term_stats(
                sorted(set(tokenize(query)))
            ).values()
        )
        hits = ql_topk(
            self.spark,
            self.postings,
            self.norms,
            term_cfs,
            coll_len=int(self._stats_row["sum_doclen"]),
            docs_per_shard=self.meta["docs_per_shard"],
            k=k,
            mu=QL_MU if mu is None else mu,
        )
        return self._materialize(hits, k) if with_meta else hits

    def fielded_search(
        self,
        query: str,
        field: str = "path",
        k: int = 10,
        mode: str = "or",
        w_content: float = 1.0,
        w_field: float = 1.0,
        with_meta: bool = True,
    ) -> DataFrame:
        """Multi-field BM25 (query/fielded.py): weighted sum of content BM25
        (from the index) and a doc_map string field's BM25 (derived posting
        table, persisted once per field).  ``field`` names any doc_map
        string column (path, repo, lang); per-field df/avgdl, Lucene
        most_fields convention.  A term absent from the content vocabulary
        still matches through the field, and vice versa; AND mode requires
        every query term in at least one of the two fields."""
        from .oracle import tokenize
        from .query.fielded import fielded_topk
        from .tokenizer import analyze_text

        query = analyze_text(query, self.analyzer)
        toks = sorted(set(tokenize(query)))
        fp, fn_docs, avg_fl = self._field_side(field)
        plan = self.plan(query)
        # singleton groups: key == the term's term_id (planner.TermGroup)
        found = self._vocab_lookup(toks)
        term_of_key = {tid: t for t, (tid, _df) in found.items()}
        hits = fielded_topk(
            self.spark,
            self.postings,
            self.norms,
            self.meta["docs_per_shard"],
            plan,
            fp,
            fn_docs,
            avg_fl,
            toks,
            term_of_key,
            k=k,
            mode=mode,
            w_content=w_content,
            w_field=w_field,
        )
        return self._materialize(hits, k) if with_meta else hits

    def hybrid_search(
        self,
        query: str,
        embeddings: DataFrame,
        qvec: list[float],
        k: int = 10,
        mode: str = "or",
        k0: int = 60,
        n_candidates: int = 100,
        with_meta: bool = True,
        id_col: str = "doc_id",
        vec_col: str = "embedding",
        ann: str | None = None,
        ann_opts: dict | None = None,
    ) -> DataFrame:
        """Hybrid lexical+dense retrieval (query/hybrid.py): BM25 top-n and
        cosine top-n candidate lists fused by Reciprocal Rank Fusion.
        ``embeddings`` must carry this engine's doc_ids in ``id_col``.

        ``ann`` selects the dense candidate generator: None = exact
        brute-force scan (the baseline); ``"ivf"`` = list-partitioned IVF
        probe (``ann_opts`` -> similarity.ivf_cosine_topk: n_cells/nprobe/
        centroids); ``"lsh"`` = hyperplane-bucketed probe (``ann_opts`` ->
        similarity.lsh_cosine_topk: n_planes/multiprobe/seed).  The scale
        path is ANN: the dense side then scans ~nprobe/n_cells (IVF) or
        ~1/2^planes (LSH) of the corpus instead of all of it; fusion only
        ever sees (doc_id, cosine) rows, so ranking semantics are
        unchanged — candidate RECALL is what the ANN knob trades.
        Returns (doc_id, rrf, score, cosine, r_lex, r_dense[, metadata])."""
        from .operators.similarity import (
            cosine_topk_bruteforce,
            ivf_cosine_topk,
            lsh_cosine_topk,
        )
        from .query.hybrid import rrf_fuse

        lex = self.search(query, k=n_candidates, mode=mode, with_meta=False)
        if ann is None:
            dense = cosine_topk_bruteforce(
                embeddings, qvec, k=n_candidates, id_col=id_col,
                vec_col=vec_col,
            )
        elif ann == "ivf":
            dense = ivf_cosine_topk(
                embeddings, qvec, k=n_candidates, id_col=id_col,
                vec_col=vec_col, **(ann_opts or {}),
            )
        elif ann == "lsh":
            dense = lsh_cosine_topk(
                embeddings, qvec, k=n_candidates, id_col=id_col,
                vec_col=vec_col, **(ann_opts or {}),
            )
        else:
            raise ValueError(f"unknown ann backend {ann!r}")
        dense = dense.withColumnRenamed(id_col, "doc_id")
        hits = rrf_fuse(lex, dense, k=k, k0=k0)
        if not with_meta:
            return hits
        return (
            F.broadcast(hits)
            .join(
                self.doc_map.select(
                    "doc_id", "repo", "path", "commit", "lang"
                ),
                on="doc_id",
            )
            .orderBy(F.desc("rrf"), F.asc("doc_id"))
            .limit(k)
        )

    def bool_search(
        self,
        query: str,
        k: int = 10,
        with_meta: bool = False,
        prune_shards: bool | None = None,
    ) -> DataFrame:
        """Nested boolean expression query — ``(a AND b) OR c NOT d`` —
        the Lucene query-string shape (query/boolquery.py for the grammar,
        semantics and plan).  Matching documents score the BM25 sum of the
        expression's positive terms present; ties break doc_id asc."""
        from .query.boolquery import bool_topk

        hits = bool_topk(self, query, k=k, prune_shards=prune_shards)
        return self._materialize(hits, k) if with_meta else hits

    def search_qualified(
        self,
        query: str,
        k: int = 10,
        mode: str = "or",
        with_meta: bool = True,
    ) -> DataFrame:
        """Field-qualified query syntax (Lucene ``field:term``): each clause
        scores in ITS field — unqualified clauses via the content index,
        ``repo:src18`` via the repo field's derived postings (own df/avgdl).
        AND requires every clause matched in its own field.  Qualified terms
        run through the generation's analyzer AFTER parsing (a camelCase
        qualified term can fan out to several clauses in that field)."""
        from .oracle import tokenize
        from .query.fielded import parse_qualified, qualified_topk
        from .tokenizer import analyze_text

        clauses: list[tuple[str | None, str]] = []
        for f, t in parse_qualified(query):
            for tok in tokenize(analyze_text(t, self.analyzer)):
                clauses.append((f, tok))
        clauses = sorted(set(clauses), key=lambda c: (c[0] or "", c[1]))
        content_terms = sorted({t for f, t in clauses if f is None})
        plan = self.plan(" ".join(content_terms))
        found = self._vocab_lookup(content_terms)
        term_of_key = {tid: t for t, (tid, _df) in found.items()}
        field_sides = {}
        for fname in sorted({f for f, _t in clauses if f is not None}):
            field_sides[fname] = self._field_side(fname)
        hits = qualified_topk(
            self.spark,
            self.postings,
            self.norms,
            self.meta["docs_per_shard"],
            plan,
            term_of_key,
            field_sides,
            clauses,
            k=k,
            mode=mode,
        )
        return self._materialize(hits, k) if with_meta else hits

    def msearch(
        self,
        queries: dict[str, str],
        k: int = 10,
        mode: str = "or",
        with_meta: bool = False,
    ) -> DataFrame:
        """Batch BM25: answer every query in ``queries`` (query_id -> query
        string) in ONE index pass (query/msearch.py) — one posting read of
        the union of all query terms, each query scored by the DAAT kernel.
        A small batch (``daat.fits_driver`` over every live plan's dfs) runs
        on the driver arm, any other on the Spark arm.  Each query's slice
        is bitwise-identical to running it alone.  Returns (query_id,
        doc_id, score), with metadata (doc_id, query_id, score, ...) when
        ``with_meta``."""
        from .query import msearch as ms
        from .tokenizer import analyze_text

        live = ms.live_plans({
            qid: self.plan(analyze_text(q, self.analyzer))
            for qid, q in queries.items()
        }, mode)
        dps = self.meta["docs_per_shard"]
        if daat.fits_driver(
            self.meta.get("n_shards") or 0,
            [df for p in live.values() for df in p.dfs],
        ):
            blocks = self._local_blocks(ms.scan_ids(live))
            hits = ms.msearch_topk_local(
                blocks, self._local_norms(blocks), live, dps, k, mode
            )
            if not with_meta:
                return local_frame(self.spark, hits, ms._SCHEMA)
            schema = StructType(
                StructType.fromDDL(
                    "doc_id long, query_id string, score double"
                ).fields
                + self._meta_fields
            )
            return local_frame(
                self.spark, self._local_meta(hits)[schema.names], schema
            )
        hits = ms.msearch_topk(
            self.spark, self.postings, self.norms, live, dps, k=k, mode=mode,
        )
        if not with_meta:
            return hits
        return (
            F.broadcast(hits)
            .join(self.doc_map.select(*_META_COLS), on="doc_id")
            .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
        )

    def near_search(
        self, query: str, window: int, k: int = 10, ordered: bool = False
    ) -> DataFrame:
        """Proximity query (NEAR/w): docs where all query terms co-occur
        within ``window`` positions, ranked by tightest minimal cover span
        (query/phrase.py near_topk).  ``ordered=True`` additionally requires
        query-token order (Lucene ordered SpanNearQuery; repeats allowed).
        Requires a positional index, like phrase_search."""
        if not self.meta.get("with_positions"):
            raise ValueError(
                "near_search requires a positional index "
                "(build_index(..., with_positions=True))"
            )
        from .query.phrase import near_topk
        from .tokenizer import analyze_text

        query = analyze_text(query, self.analyzer)
        return near_topk(
            self.spark, self.postings, self._vocab_lookup, query, window, k=k,
            ordered=ordered,
        )

    def snippet_search(
        self,
        query: str,
        corpus: DataFrame,
        k: int = 10,
        mode: str = "or",
        ctx: int = 3,
        **kw,
    ) -> DataFrame:
        """BM25 top-k with a deterministic keyword-in-context snippet per
        hit: the window of ``2*ctx + 1`` tokens centred on the FIRST
        occurrence (lowest token position) of any query term in the doc.

        ``corpus`` is the original (repo, path, commit, lang, content)
        DataFrame — the index stores no document text (late materialization,
        TargetStructure.java:24-27: the reference likewise re-reads source
        structures only for the <=k aligned candidates).  The <=k hit rows
        are broadcast against the corpus scan, and the snippet itself is
        pure Catalyst (regexp_extract_all / array_position / slice — no
        Python UDF), so the corpus-side work is one projected scan with the
        join filter pushed to it.  Tokens (not raw character offsets) define
        the window: the canonical, oracle-replayable form.  On a
        non-standard analyzer, anchors and the snippet window live in the
        ANALYZED token stream (the same vocabulary the hits matched in).
        """
        from .tokenizer import analyze_text

        plan = self.plan(analyze_text(query, self.analyzer))
        hits = self.search(query, k=k, mode=mode, with_meta=False, **kw)
        with_key = F.broadcast(hits).join(
            self.doc_map.select("doc_id", "repo", "path", "commit"),
            on="doc_id",
        )
        joined = with_key.join(
            corpus.select("repo", "path", "commit", "content"),
            on=["repo", "path", "commit"],
        )
        from .tokenizer import tokenize_expr

        toks = tokenize_expr(F.col("content"), self.analyzer)
        # first occurrence of ANY query term: least() skips NULLs (absent
        # terms) in both Spark and DuckDB — order-independent anchor rule
        anchor = F.least(
            *[
                F.nullif(F.array_position(toks, F.lit(t)), F.lit(0))
                for t in sorted(plan.terms)
            ]
        ) if plan.terms else F.lit(1)
        start = F.greatest(F.lit(1), (anchor - ctx).cast("int"))
        snippet = F.array_join(F.slice(toks, start, 2 * ctx + 1), " ")
        return (
            joined.select(
                "doc_id", "repo", "path", "commit", "score",
                snippet.alias("snippet"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_min_match(
        self,
        query: str,
        min_match: int,
        k: int = 10,
        with_meta: bool = False,
        expansions: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """Relaxed conjunction (Elasticsearch ``minimum_should_match``): a
        hit must match at least ``min_match`` of the query's scoring groups
        — min_match=1 is OR, min_match=n is AND, anything between is the
        m-of-n middle ground AND/OR cannot express.  Same DAAT kernel and
        deterministic scoring contract as ``search``: the kernel's OR hit
        threshold becomes ``min_match`` (query/daat.py)."""
        from .tokenizer import analyze_text

        plan = self.plan(
            analyze_text(query, self.analyzer), expansions=expansions
        )
        return self._topk(plan, k, with_meta=with_meta, min_match=min_match)

    def term_vector(self, repo: str, path: str, commit: str) -> DataFrame:
        """Per-document term vector (the Elasticsearch _termvectors API):
        (term, tf, df, cf) for one document addressed by natural key —
        resolved entirely from the INDEX (doc dictionary lookup, pushed-down
        posting scan by the doc's shard, broadcast terms join); content is
        never re-read or re-tokenized."""
        from .build.postings import decode_postings

        row = (
            self.doc_map.where(
                (F.col("repo") == repo)
                & (F.col("path") == path)
                & (F.col("commit") == commit)
            )
            .select("doc_id", "shard")
            .first()
        )
        if row is None:
            raise KeyError(f"unknown document {(repo, path, commit)!r}")
        decoded = decode_postings(
            self.postings.where(F.col("shard") == row["shard"])
        )
        # broadcast the SINGLE-DOC decoded side (a few hundred rows), never
        # the terms table — the vocabulary is corpus-sized (millions of rows
        # at 10^12 docs) and would not fit a broadcast (ADVICE round-3)
        return (
            F.broadcast(decoded.where(F.col("doc_id") == row["doc_id"]))
            .join(
                self.terms.select("term_id", "term", "df", "cf"),
                on="term_id",
            )
            .select("term", "tf", "df", "cf")
        )

    def phrase_search(
        self, phrase: str, k: int = 10, decoded_blocks_acc=None
    ) -> DataFrame:
        """Exact-sequence phrase query over a positional index (build with
        ``with_positions=True``) — the positional-join analogue
        (TargetStructure.java:78-111).  Returns (doc_id, phrase_tf).
        ``decoded_blocks_acc``: optional accumulator counting blocks
        payload-decoded (skip-pointer instrumentation)."""
        if not self.meta.get("with_positions"):
            raise ValueError(
                "phrase_search requires a positional index "
                "(build_index(..., with_positions=True))"
            )
        from .query.phrase import phrase_topk
        from .tokenizer import analyze_text

        phrase = analyze_text(phrase, self.analyzer)
        return phrase_topk(
            self.spark, self.postings, self._vocab_lookup, phrase, k=k,
            decoded_blocks_acc=decoded_blocks_acc,
        )

    def classify(
        self,
        docs: DataFrame,
        library: dict[str, str],
        mode: str = "and",
        min_score: float = 0.0,
        content_col: str = "content",
    ) -> DataFrame:
        """Classify documents against a library of stored queries (the
        ``detectMotifs`` analogue, Strucmotif.java:35-37 / SURVEY.md §3.2)."""
        from .query.classify import classify_documents

        return classify_documents(
            self, docs, library, mode=mode, min_score=min_score,
            content_col=content_col,
        )

    def count_matches(self, query: str, mode: str = "or") -> int:
        """Total-hits count (the Elasticsearch ``_count`` API): the size of
        the FULL match set — no scoring, no top-k, no corpus read
        (analytics.match_set: pushed-down posting scan, per-block doc-id
        decode, OR distinct / AND group-count).  Strictly cheaper than any
        ranked query over the same terms."""
        from .query.analytics import match_set

        matched = match_set(self, query, mode=mode)
        return 0 if matched is None else matched.count()

    def delete_by_query(self, query: str, mode: str = "or") -> str:
        """Admin operator (the Elasticsearch delete_by_query shape): remove
        EVERY document matching ``query`` (the full match set, not a top-k)
        in ONE incremental REMOVE generation — snapshot-atomic, O(affected
        shards) posting surgery, exact df/cf shrink, lineage-logged
        (streaming/incremental.py remove_documents).

        The match set comes from the index alone (analytics.match_set:
        pushed-down posting scan, no scoring, no corpus read); its doc_ids
        join doc_map for the natural keys the REMOVE path consumes.
        Returns the new generation id.  This engine stays on the
        generation it opened (every read it makes, before or after, resolves
        against that snapshot) — construct a fresh SearchEngine to query
        the result (same contract as add/remove_documents)."""
        from .query.analytics import match_set
        from .streaming.incremental import remove_documents

        if self._pinned:
            raise ValueError(
                "delete_by_query mutates CURRENT; this engine is pinned at "
                f"historical generation {self.gen!r} — construct an "
                "unpinned SearchEngine to run maintenance"
            )
        matched = match_set(self, query, mode=mode)
        if matched is None:
            matched = local_frame(self.spark, [], "doc_id long")
        keys = self.doc_map.join(matched, on="doc_id", how="left_semi").select(
            "repo", "path", "commit"
        )
        return remove_documents(self.spark, self.store, keys)

    def search_with_timeout(
        self, query: str, timeout_s: float, k: int = 10, mode: str = "or", **kw
    ):
        """Collect search results with a hard timeout; on expiry the job
        group is cancelled (no lingering tasks) and TimeoutError raises —
        the analogue of the reference's future.get(timeout) + interrupt
        protocol (DefaultStrucmotifRuntime.java:244-278, QueryTimeoutTest).
        """
        return collect_with_timeout(
            self.spark,
            lambda: self.search(
                query, k=k, mode=mode, with_meta=False, **kw
            ).collect(),
            timeout_s,
        )

    def _field_side(self, field: str) -> tuple[DataFrame, int, float]:
        """(derived field postings, n_docs, avg_fieldlen) for a doc_map
        string column — derived and persisted once per engine.  An unknown
        field name raises ValueError."""
        from .query.fielded import field_postings, field_stats

        if field not in self.doc_map.columns:
            raise ValueError(
                f"unknown query field {field!r}; doc_map fields: "
                f"{list(self.doc_map.columns)}"
            )
        if field not in self._field_cache:
            fp = field_postings(self.doc_map, field, self.analyzer).persist()
            fp.count()
            self._field_cache[field] = (
                fp, field_stats(self.doc_map, field, self.analyzer)
            )
        fp, (n_docs, avg_fl) = self._field_cache[field]
        return fp, n_docs, avg_fl

    def _no_hits(self, k: int, with_meta: bool) -> DataFrame:
        """The empty answer, with the columns a matching answer has."""
        hits = local_frame(self.spark, [], daat._RESULT_SCHEMA)
        return self._materialize(hits, k) if with_meta else hits

    def _materialize(self, hits: DataFrame, k: int) -> DataFrame:
        """Late materialization: join metadata only for the <=k winners
        (J4 analogue, DefaultStrucmotifRuntime.java:145-153); broadcast the
        tiny hit side so the doc dictionary is never shuffled."""
        return (
            F.broadcast(hits)
            .join(self.doc_map.select(*_META_COLS), on="doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
