"""Shard-level block-max pruning + doc-filter tests: the pruned plan must be
EXACTLY the unpruned plan (bounds are true maxima), and search-space filters
apply before top-k (P1-P3 analogue)."""

import pytest
from pyspark.sql import functions as F

from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.corpus import generate_corpus
from strucmotif_search_spark.engine import SearchEngine

N = 500


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    store = IndexStore(tmp_path_factory.mktemp("prune"))
    docs = generate_corpus(spark, N, seed=21, partitions=8)
    build_index(spark, docs, store, docs_per_shard=32)
    return SearchEngine(spark, store)


QUERIES = [
    ("import", "or", 10),
    ("import return def", "or", 5),
    ("v_00001 v_00002", "and", 10),
    ("v_00050 v_00100 v_00007", "or", 3),
    ("uniq_org0_repo1_0", "or", 10),
    ("v_00001 zz_absent", "and", 10),
]


@pytest.mark.parametrize("q,mode,k", QUERIES)
def test_pruned_equals_unpruned(engine, q, mode, k, spark_arm):
    plain = [
        (r["doc_id"], r["score"])
        for r in engine.search(
            q, k=k, mode=mode, with_meta=False, prune_shards=False
        ).collect()
    ]
    pruned = [
        (r["doc_id"], r["score"])
        for r in engine.search(
            q, k=k, mode=mode, with_meta=False, prune_shards=True
        ).collect()
    ]
    assert pruned == plain


def test_doc_predicate_filters_before_topk(engine, spark):
    # restrict the search space to one repo; every hit must satisfy it and
    # ranking must equal brute force over the restricted corpus
    pred = F.col("repo") == "org0/repo1"
    hits = engine.search(
        "import", k=50, mode="or", with_meta=True, doc_predicate=pred
    ).collect()
    allowed = {
        r["doc_id"] for r in engine.doc_map.where(pred).select("doc_id").collect()
    }
    assert len(hits) > 0
    assert all(r["doc_id"] in allowed for r in hits)
    # scores must be identical to the unfiltered run for the same docs
    # (the filter prunes candidates; it must not perturb scoring)
    unfiltered = {
        r["doc_id"]: r["score"]
        for r in engine.search("import", k=N, mode="or", with_meta=False).collect()
    }
    for r in hits:
        assert r["score"] == unfiltered[r["doc_id"]]


def test_lang_predicate(engine):
    hits = engine.search(
        "import", k=20, with_meta=True, doc_predicate=F.col("lang") == "py"
    ).collect()
    assert len(hits) > 0
    assert all(r["lang"] == "py" for r in hits)


def test_predicate_norms_cache_is_bounded(engine):
    """Cycling distinct predicates must not grow cached sidecars without
    bound: the per-predicate norms cache is an LRU that unpersists on
    eviction."""
    cap = engine._pred_norms_cap
    for i in range(cap + 5):
        engine.search(
            "import", k=3, with_meta=False,
            doc_predicate=F.col("repo") == f"org0/repo{i % 16}",
        ).collect()
    assert len(engine._pred_norms) <= cap
    # repeated use of one predicate is a cache hit, not a rebuild
    before = dict(engine._pred_norms)
    engine.search(
        "import", k=3, with_meta=False,
        doc_predicate=F.col("repo") == f"org0/repo{(cap + 4) % 16}",
    ).collect()
    key = str(F.col("repo") == f"org0/repo{(cap + 4) % 16}")
    assert engine._pred_norms[key] is before[key]
