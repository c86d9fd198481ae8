"""build_index at its edges: an empty source, and a build running in a
session where another index is already being served."""

from pyspark import StorageLevel

from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.corpus import generate_corpus
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.streaming.incremental import verify_consistency


def test_empty_source_publishes_empty_generation(spark, tmp_path):
    store = IndexStore(tmp_path / "empty")
    docs = generate_corpus(spark, 20, seed=3, partitions=2).limit(0)
    gen = build_index(spark, docs, store, docs_per_shard=16)
    assert store.current_gen() == gen
    eng = SearchEngine(spark, store)
    assert eng.search("import", k=10).collect() == []
    assert eng.stats.first()["n_docs"] == 0
    assert verify_consistency(spark, store) == {
        "orphan_doc_ids": 0, "inconsistent_terms": 0, "duplicate_docs": 0,
    }


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
