"""build_index at its edges: an empty source, and a build running in a
session where another index is already being served."""

import pytest
from pyspark import StorageLevel

from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.corpus import generate_corpus
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.oracle import bm25_topk, build_oracle
from strucmotif_search_spark.streaming.incremental import (
    add_documents,
    remove_documents,
    verify_consistency,
)

KEY = ["repo", "path", "commit"]
ZEROS = {"orphan_doc_ids": 0, "inconsistent_terms": 0, "duplicate_docs": 0}


def test_empty_source_publishes_empty_generation(spark, tmp_path):
    store = IndexStore(tmp_path / "empty")
    docs = generate_corpus(spark, 20, seed=3, partitions=2).limit(0)
    gen = build_index(spark, docs, store, docs_per_shard=16)
    assert store.current_gen() == gen
    eng = SearchEngine(spark, store)
    assert eng.search("import", k=10).collect() == []
    assert eng.stats.first()["n_docs"] == 0
    assert verify_consistency(spark, store) == ZEROS


@pytest.mark.parametrize("arm", ["driver", "spark"])
def test_add_onto_empty_generation(spark, tmp_path, request, arm):
    """An ADD onto the empty generation: its postings and norms dirs hold
    no data file, so neither counts as a table to read."""
    if arm == "spark":
        request.getfixturevalue("spark_commit_arm")
    store = IndexStore(tmp_path / "empty")
    docs = generate_corpus(spark, 50, seed=3, partitions=2)
    gen = build_index(spark, docs.limit(0), store, docs_per_shard=16)
    assert store.posting_parts() == []
    # read as a later session does, which has not registered the build's
    # bucketed tables
    for name in ("norms", "postings"):
        spark.sql(f"DROP TABLE IF EXISTS {store.bucket_table_name(name, gen)}")
    for mode in ("or", "and"):
        eng = SearchEngine(spark, store)
        assert eng.search("import def", k=10, mode=mode).collect() == []
        assert eng.msearch({"a": "import"}, mode=mode).collect() == []
    assert eng._stats_row["n_docs"] == 0
    assert eng.ql_search("import").collect() == []  # reads the empty norms

    add_documents(spark, store, docs)
    assert store.lineage()[-1]["arm"] == arm
    assert verify_consistency(spark, store) == ZEROS
    eng = SearchEngine(spark, store)
    dm = eng.doc_map.select("doc_id", "repo", "path", "commit").toPandas()
    content = {
        (r["repo"], r["path"], r["commit"]): r["content"]
        for r in docs.collect()
    }
    oracle = build_oracle(
        dm["doc_id"].tolist(),
        [content[k] for k in zip(dm["repo"], dm["path"], dm["commit"])],
    )
    for query, mode in (("import def", "or"), ("import def", "and")):
        got = [
            (r["doc_id"], r["score"])
            for r in eng.search(query, k=10, mode=mode).collect()
        ]
        assert got and got == bm25_topk(oracle, query, k=10, mode=mode)


@pytest.mark.parametrize("arm", ["driver", "spark"])
def test_remove_from_generation_without_postings(
    spark, tmp_path, request, arm
):
    """A REMOVE of token-less documents from a generation whose postings
    dir holds no data file: the repack merges no block."""
    if arm == "spark":
        request.getfixturevalue("spark_commit_arm")
    store = IndexStore(tmp_path / "tokenless")
    docs = spark.createDataFrame(
        [("r", f"p{i}.py", "c1", "py", " ... ") for i in range(3)],
        "repo string, path string, commit string, lang string, content string",
    )
    build_index(spark, docs, store, docs_per_shard=16)
    assert store.posting_parts() == []
    remove_documents(spark, store, docs.limit(1).select(*KEY))
    assert store.lineage()[-1]["arm"] == arm
    assert verify_consistency(spark, store) == ZEROS
    assert SearchEngine(spark, store).stats.first()["n_docs"] == 2


def test_build_keeps_other_engines_caches(spark, tmp_path):
    """A build releases only what it persisted itself: an engine serving
    another store in the same session keeps its cached norms, and the
    build leaves no persisted data of its own behind."""
    docs = generate_corpus(spark, 200, seed=5, partitions=2)
    store_a = IndexStore(tmp_path / "a")
    build_index(spark, docs, store_a, docs_per_shard=64)
    eng = SearchEngine(spark, store_a)
    eng.search("import", k=5, with_meta=False).collect()
    assert eng.norms.storageLevel != StorageLevel.NONE
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    n_before = persistent.size()

    build_index(spark, docs, IndexStore(tmp_path / "b"), docs_per_shard=64)
    assert eng.norms.storageLevel != StorageLevel.NONE
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_before
