"""End-to-end build + query vs the brute-force oracle.

The analogue of the reference's golden-fixture integration tests
(core/StructureIntegrationTest.java: exact 788-hit assertions;
io/DefaultInvertedIndexTest.java: exact 13/241 bucket contents): build the
index over a deterministic synthetic corpus and assert df/cf/avgdl EXACT and
top-k rank-identical with bitwise-equal float64 scores.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.build.postings import decode_postings
from strucmotif_search_spark.corpus import generate_corpus
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.oracle import bm25_topk, build_oracle

N_DOCS = 400


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("index")
    docs = generate_corpus(spark, N_DOCS, seed=42, partitions=8)
    store = IndexStore(root)
    build_index(spark, docs, store, docs_per_shard=64)
    engine = SearchEngine(spark, store)
    # oracle over the same corpus keyed by the engine's doc_ids
    dm = engine.doc_map.select("doc_id", "repo", "path", "commit").toPandas()
    src = docs.select("repo", "path", "commit", "content").toPandas()
    merged = dm.merge(src, on=["repo", "path", "commit"])
    oracle = build_oracle(merged["doc_id"].tolist(), merged["content"].tolist())
    return engine, oracle, merged


QUERIES = [
    ("import", "or"),                      # head term (q02)
    ("import return def", "or"),           # all-head (q08)
    ("v_00001 v_00002", "or"),             # mid-df OR
    ("v_00001 v_00002", "and"),            # mid-df AND intersection (q03)
    ("v_00050 v_00100 v_00007 v_01000 v_19999", "or"),   # 5 terms (q05)
    ("zz_absent_token", "or"),             # df=0 (q06)
    ("zz_absent_token import", "and"),     # AND with absent term -> empty
    ("def def def", "or"),                 # repeated term dedup (q07)
    ("uniq_org0_repo1_0 import", "or"),    # rare + head (q04)
    ("uniq_org0_repo1_0 import", "and"),
]


def test_doc_map_invariants(built, spark):
    engine, oracle, merged = built
    dm = engine.doc_map
    assert dm.count() == N_DOCS
    ids = sorted(r["doc_id"] for r in dm.select("doc_id").collect())
    assert ids == list(range(N_DOCS))  # dense, deterministic
    # sha256 invariant vs source content
    import hashlib

    recomputed = merged["content"].map(
        lambda c: hashlib.sha256(c.encode()).hexdigest()
    )
    sha = {
        r["doc_id"]: r["content_sha256"]
        for r in dm.select("doc_id", "content_sha256").collect()
    }
    for d, h in zip(merged["doc_id"], recomputed):
        assert sha[d] == h


def test_stats_exact(built):
    engine, oracle, _ = built
    st = engine.stats.first()
    assert st["n_docs"] == oracle.n_docs
    assert st["sum_doclen"] == int(oracle.doclens.sum())
    assert st["avgdl"] == oracle.avgdl


def test_terms_df_cf_exact(built):
    engine, oracle, _ = built
    rows = engine.terms.collect()
    got_df = {r["term"]: r["df"] for r in rows}
    got_cf = {r["term"]: r["cf"] for r in rows}
    assert got_df == oracle.df
    assert got_cf == oracle.cf
    # term_id is the sorted rank of the term string
    by_id = sorted(rows, key=lambda r: r["term_id"])
    assert [r["term"] for r in by_id] == sorted(got_df)
    assert [r["term_id"] for r in by_id] == list(range(len(rows)))


def test_postings_decode_matches_oracle(built, spark):
    engine, oracle, _ = built
    tid = {r["term"]: r["term_id"] for r in engine.terms.collect()}
    decoded = decode_postings(engine.postings).toPandas()
    for term in ["import", "v_00001", "uniq_org0_repo1_0"]:
        sub = decoded[decoded["term_id"] == tid[term]].sort_values("doc_id")
        ods, otfs = oracle.postings[term]
        np.testing.assert_array_equal(sub["doc_id"].to_numpy(), ods)
        np.testing.assert_array_equal(sub["tf"].to_numpy(), otfs)


def test_block_metadata_true_maxima(built):
    engine, _, _ = built
    pdf = engine.postings.toPandas()
    from strucmotif_search_spark.codec import unpack_block

    for _, r in pdf.sample(n=min(200, len(pdf)), random_state=0).iterrows():
        ids, tfs = unpack_block(bytes(r["doc_gaps"]), bytes(r["tfs"]))
        assert r["first_doc_id"] == ids[0]
        assert r["max_doc_id"] == ids[-1]
        assert r["n_docs"] == ids.size
        assert r["block_max_tf"] == tfs.max()
        assert np.all(np.diff(ids) > 0)


@pytest.mark.parametrize("query,mode", QUERIES)
def test_topk_rank_identical_daat(built, spark, query, mode):
    engine, oracle, _ = built
    expected = bm25_topk(oracle, query, k=10, mode=mode)
    got = [
        (r["doc_id"], r["score"])
        for r in engine.search(query, k=10, mode=mode, with_meta=False).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]
    # bitwise-equal float64 (identical summation order)
    assert [s for _, s in got] == [s for _, s in expected]


# A4 query expansion (ResiduePairOccurrence.java:166-227 analogue): each
# base term + synonyms = one scoring group; tf sums, df = max member df.
EXPANSION_CASES = [
    ("v_00001", {"v_00001": ["v_00002", "v_00003"]}, "or"),
    ("v_00001 import", {"v_00001": ["v_00002"]}, "and"),
    ("uniq_org0_repo1_0", {"uniq_org0_repo1_0": ["import"]}, "or"),
    # absent base term rescued by a present synonym
    ("zz_absent_token", {"zz_absent_token": ["v_00005"]}, "or"),
    # fully absent group -> AND empty
    ("zz_absent_token import", {"zz_absent_token": ["zz_also_absent"]}, "and"),
]


@pytest.mark.parametrize("query,exp,mode", EXPANSION_CASES)
def test_expanded_rank_identical_daat(built, spark, query, exp, mode):
    engine, oracle, _ = built
    expected = bm25_topk(oracle, query, k=10, mode=mode, expansions=exp)
    got = [
        (r["doc_id"], r["score"])
        for r in engine.search(
            query, k=10, mode=mode, with_meta=False, expansions=exp
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]
    assert [s for _, s in got] == [s for _, s in expected]


def test_expanded_beats_unexpanded_recall(built):
    """An expansion group must match every doc any member matches (the
    union-of-buckets contract, DefaultTargetAssembler.java:85-88)."""
    engine, oracle, _ = built
    exp = {"uniq_org0_repo1_0": ["uniq_org0_repo0_0"]}
    plain = engine.search(
        "uniq_org0_repo1_0", k=1000, mode="or", with_meta=False
    ).collect()
    expanded = engine.search(
        "uniq_org0_repo1_0", k=1000, mode="or", with_meta=False,
        expansions=exp,
    ).collect()
    assert {r["doc_id"] for r in plain} <= {r["doc_id"] for r in expanded}


def test_expansion_groups_must_be_disjoint(built):
    engine, _, _ = built
    with pytest.raises(ValueError, match="disjoint"):
        engine.search(
            "v_00001 v_00002", k=5, with_meta=False,
            expansions={"v_00001": ["v_00002"]},
        )


def test_limit_semantics(built):
    engine, oracle, _ = built
    full = bm25_topk(oracle, "v_00001 v_00002", k=10_000, mode="or")
    got1 = engine.search("v_00001 v_00002", k=1, mode="or", with_meta=False).collect()
    assert [r["doc_id"] for r in got1] == [full[0][0]]
    gotall = engine.search(
        "v_00001 v_00002", k=10_000, mode="or", with_meta=False
    ).collect()
    assert [r["doc_id"] for r in gotall] == [d for d, _ in full]


def test_search_with_metadata(built):
    engine, oracle, _ = built
    hits = engine.search("import", k=5).collect()
    assert len(hits) == 5
    assert {"doc_id", "score", "repo", "path", "commit", "lang"} <= set(
        hits[0].asDict()
    )


def test_fused_build_query_plan_is_exchange_free(spark, tmp_path_factory):
    """The production (fused, bucketed) layout must answer a BM25 query in
    one exchange-free stage + TakeOrderedAndProject (PLANS.md §11): both
    cogroup sides come hash(shard)-clustered straight from the bucketed
    scan.  Guards the read-path projection from silently dropping the
    bucketed output partitioning."""
    store = IndexStore(tmp_path_factory.mktemp("fusedplan"))
    docs = generate_corpus(spark, 300, seed=3, partitions=8)
    build_index(
        spark, docs, store, docs_per_shard=64,
    )
    eng = SearchEngine(spark, store)
    plan = (
        eng.search("import def", k=10, with_meta=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# NOT-term exclusion (P2 lifted to term level) and prefix wildcards (A4)
# ---------------------------------------------------------------------------

EXCLUDE_CASES = [
    ("import", "or", "def"),                 # head query, head exclusion
    ("import return", "or", "v_00001"),      # mid-df exclusion
    ("v_00001 v_00002", "or", "import"),     # exclusion removes most docs
    ("v_00001 v_00002", "and", "import"),
    ("import", "or", "zz_absent_token"),     # absent exclusion = no-op
    ("import", "or", "def return"),          # multi-term exclusion
]


@pytest.mark.parametrize("query,mode,excl", EXCLUDE_CASES)
def test_exclude_rank_identical_daat(built, spark, query, mode, excl):
    engine, oracle, _ = built
    expected = bm25_topk(oracle, query, k=10, mode=mode, exclude=excl)
    got = [
        (r["doc_id"], r["score"])
        for r in engine.search(
            query, k=10, mode=mode, with_meta=False, exclude=excl
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]
    assert [s for _, s in got] == [s for _, s in expected]


def test_exclude_full_result_set(built, spark):
    """Large k: the exclusion must hold over the ENTIRE match set, not just
    the head (exclusion applies before top-k selection)."""
    engine, oracle, _ = built
    expected = bm25_topk(oracle, "import return", k=10_000, mode="or",
                         exclude="v_00001")
    got = [
        (r["doc_id"], r["score"])
        for r in engine.search(
            "import return", k=10_000, mode="or", with_meta=False,
            exclude="v_00001",
        ).collect()
    ]
    assert got == expected
    # and none of the emitted docs contains the excluded term
    excl_docs = set(oracle.postings["v_00001"][0].tolist())
    assert not excl_docs & {d for d, _ in got}


def test_exclude_self_is_empty(built):
    engine, _, _ = built
    assert engine.search(
        "import", k=10, mode="or", with_meta=False, exclude="import"
    ).count() == 0


def _prefix_expected(oracle, prefix: str, rest: str, k: int, mode: str):
    members = sorted(t for t in oracle.postings if t.startswith(prefix))
    assert len(members) > 1, "fixture must exercise multi-member expansion"
    exp = {members[0]: members[1:]}
    return bm25_topk(
        oracle, f"{members[0]} {rest}".strip(), k=k, mode=mode,
        expansions=exp,
    )


@pytest.mark.parametrize("mode", ["or", "and"])
def test_prefix_search_rank_identical(built, spark, mode):
    engine, oracle, _ = built
    expected = _prefix_expected(oracle, "uniq_org0", "import", 10, mode)
    got = [
        (r["doc_id"], r["score"])
        for r in engine.prefix_search(
            "uniq_org0* import", k=10, mode=mode, with_meta=False
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]
    assert [s for _, s in got] == [s for _, s in expected]


def test_prefix_no_match_semantics(built):
    engine, oracle, _ = built
    plain = [
        (r["doc_id"], r["score"])
        for r in engine.search(
            "import", k=10, mode="or", with_meta=False
        ).collect()
    ]
    got = [
        (r["doc_id"], r["score"])
        for r in engine.prefix_search(
            "zzzz_nothing* import", k=10, mode="or", with_meta=False
        ).collect()
    ]
    assert got == plain  # OR ignores the absent group
    assert engine.prefix_search(
        "zzzz_nothing* import", k=10, mode="and", with_meta=False
    ).count() == 0  # AND empties


def test_prefix_max_expansions_guard(built):
    engine, _, _ = built
    with pytest.raises(ValueError, match="expands to more than"):
        engine.prefix_search("v_*", k=10, max_expansions=3)
    with pytest.raises(ValueError, match="invalid wildcard prefix"):
        engine.prefix_search("bad prefix!*", k=10)


def test_prefix_search_composes_with_exclude(built):
    engine, oracle, _ = built
    members = sorted(t for t in oracle.postings if t.startswith("uniq_org0"))
    expected = bm25_topk(
        oracle, f"{members[0]} import", k=10, mode="or",
        expansions={members[0]: members[1:]}, exclude="def",
    )
    got = [
        (r["doc_id"], r["score"])
        for r in engine.prefix_search(
            "uniq_org0* import", k=10, mode="or", with_meta=False,
            exclude="def",
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]
    assert [s for _, s in got] == [s for _, s in expected]


# ---------------------------------------------------------------------------
# Boolean MUST/SHOULD/MUST_NOT queries (Lucene BooleanQuery analogue)
# ---------------------------------------------------------------------------

BOOL_CASES = [
    ("v_00001", "import return"),          # rare MUST, head SHOULD boosts
    ("import", "v_00001 v_00002"),         # head MUST, mid SHOULD
    ("v_00001 v_00002", "import"),         # two MUST clauses
    ("import", "zz_absent_token"),         # absent SHOULD = plain query
    ("import", "import def"),              # MUST term repeated in SHOULD
    ("", "v_00001 v_00002"),               # no MUST -> pure disjunction
]


@pytest.mark.parametrize("must,should", BOOL_CASES)
def test_bool_rank_identical_daat(built, spark, must, should):
    engine, oracle, _ = built
    expected = bm25_topk(oracle, must, k=10, should=should)
    got = [
        (r["doc_id"], r["score"])
        for r in engine.search(
            must, k=10, with_meta=False, should=should
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]
    assert [s for _, s in got] == [s for _, s in expected]


def test_bool_absent_must_is_empty(built):
    engine, _, _ = built
    assert engine.search(
        "zz_absent_token", k=10, with_meta=False, should="import"
    ).count() == 0


def test_bool_should_only_scores_never_filters(built):
    """Every bool hit contains all MUST terms; the SHOULD term changes
    scores/ranking but the qualifying doc set equals the plain AND set."""
    engine, oracle, _ = built
    big = engine.search(
        "v_00001 v_00002", k=10_000, with_meta=False, should="import"
    ).collect()
    and_set = {
        r["doc_id"]
        for r in engine.search(
            "v_00001 v_00002", k=10_000, mode="and", with_meta=False
        ).collect()
    }
    assert {r["doc_id"] for r in big} == and_set
    # and the bool scores are >= the plain AND scores (SHOULD only adds)
    and_scores = {
        d: s for d, s in bm25_topk(oracle, "v_00001 v_00002", k=10_000,
                                   mode="and")
    }
    for r in big:
        assert r["score"] >= and_scores[r["doc_id"]] - 1e-12


def test_bool_composes_with_exclude(built):
    engine, oracle, _ = built
    expected = bm25_topk(
        oracle, "import", k=10, should="v_00001", exclude="def"
    )
    got = [
        (r["doc_id"], r["score"])
        for r in engine.search(
            "import", k=10, with_meta=False, should="v_00001", exclude="def"
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]
    assert [s for _, s in got] == [s for _, s in expected]


def test_bool_with_shard_pruning(built):
    """Bool mode through the 2-phase shard-pruned plan must equal the
    unpruned plan (shards lacking a MUST group are skipped)."""
    engine, oracle, _ = built
    pruned = [
        (r["doc_id"], r["score"])
        for r in engine.search(
            "v_00001", k=10, with_meta=False, should="import",
            prune_shards=True,
        ).collect()
    ]
    expected = bm25_topk(oracle, "v_00001", k=10, should="import")
    assert [d for d, _ in pruned] == [d for d, _ in expected]
    assert [s for _, s in pruned] == [s for _, s in expected]
