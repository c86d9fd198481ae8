"""Incremental ADD/REMOVE/compact over a POSITIONAL index — phrase capability
must survive repacks (the payload-carrying CSR-surgery analogue,
io/DefaultInvertedIndex.java:472-510), and ADD/REMOVE must work against the
fused/bucketed production layout (round-2 regression)."""

import re

import pytest
from pyspark.sql import functions as F

from strucmotif_search_spark import TOKEN_PATTERN
from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.streaming.incremental import (
    add_documents,
    compact,
    remove_documents,
    verify_consistency,
)

TOK = re.compile(TOKEN_PATTERN)

BASE = [
    ("r", "p0", "c0", "py", "new york city new york"),
    ("r", "p1", "c1", "py", "york new nothing here"),
    ("r", "p2", "c2", "py", "the new york marathon"),
    ("r", "p3", "c3", "py", "completely unrelated words"),
    ("r", "p4", "c4", "py", "def def def x"),
    ("r", "p5", "c5", "py", "alpha beta gamma delta"),
]
EXTRA = [
    ("r", "q0", "d0", "py", "brand new york skyline new york"),
    ("r", "q1", "d1", "py", "def def y new"),
    ("r", "q2", "d2", "py", "york city blues"),
    ("r", "q3", "d3", "py", "new york new york new york"),
]

_SCHEMA = "repo string, path string, commit string, lang string, content string"


def _phrase_count(text: str, seq: list[str]) -> int:
    toks = TOK.findall(text)
    return sum(
        1
        for i in range(len(toks) - len(seq) + 1)
        if toks[i : i + len(seq)] == seq
    )


def _expected(rows, phrase: str):
    """Brute-force phrase counts keyed by natural key."""
    seq = TOK.findall(phrase)
    return sorted(
        ((r, p, c, _phrase_count(t, seq)) for (r, p, c, _l, t) in rows
         if _phrase_count(t, seq) > 0),
    )


def _got(engine, phrase: str):
    hits = engine.phrase_search(phrase, k=100)
    joined = hits.join(engine.doc_map, on="doc_id").select(
        "repo", "path", "commit", "phrase_tf"
    )
    return sorted(tuple(r) for r in joined.collect())


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    base = spark.createDataFrame(BASE, _SCHEMA)
    extra = spark.createDataFrame(EXTRA, _SCHEMA)
    store = IndexStore(tmp_path_factory.mktemp("posinc"))
    # fused production layout (bucketed), positional
    build_index(
        spark, base, store, docs_per_shard=4, with_positions=True,
    )
    return store, base, extra


def test_positional_add_keeps_phrase_capability(spark, stores):
    store, base, extra = stores
    add_documents(spark, store, extra)
    eng = SearchEngine(spark, store)
    assert eng.meta.get("with_positions")
    for phrase in ("new york", "def def", "new york new york", "absent words"):
        assert _got(eng, phrase) == _expected(BASE + EXTRA, phrase)
    assert verify_consistency(spark, store) == {
        "orphan_doc_ids": 0, "inconsistent_terms": 0,
    }


def test_positional_remove_keeps_phrase_capability(spark, stores):
    store, base, extra = stores
    victims = spark.createDataFrame(
        [r[:3] for r in EXTRA[:2]], "repo string, path string, commit string"
    )
    remove_documents(spark, store, victims)
    eng = SearchEngine(spark, store)
    survivors = BASE + EXTRA[2:]
    for phrase in ("new york", "def def", "york city"):
        assert _got(eng, phrase) == _expected(survivors, phrase)
    assert verify_consistency(spark, store) == {
        "orphan_doc_ids": 0, "inconsistent_terms": 0,
    }


def test_positional_compact_restores_bucketing(spark, stores):
    import json as _json
    from pathlib import Path

    store, base, extra = stores
    gen = compact(spark, store)
    assert store.current_gen() == gen
    assert not (Path(store.root) / gen / "_refs.json").exists()
    bmeta = _json.loads((Path(store.root) / gen / "_buckets.json").read_text())
    assert "postings" in bmeta and "norms" in bmeta
    eng = SearchEngine(spark, store)
    assert eng.meta.get("with_positions")
    survivors = BASE + EXTRA[2:]
    for phrase in ("new york", "def def", "york city"):
        assert _got(eng, phrase) == _expected(survivors, phrase)
    # the compacted positional gen answers BM25 exchange-free again
    plan = (
        eng.search("new york", k=5, with_meta=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert verify_consistency(spark, store) == {
        "orphan_doc_ids": 0, "inconsistent_terms": 0,
    }
