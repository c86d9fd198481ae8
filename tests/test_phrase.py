"""Positional index + phrase query tests — analogue of the reference's
positional path-extension join (TargetStructure.java:78-111)."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from strucmotif_search_spark import TOKEN_PATTERN
from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.build.postings import (
    decode_postings,
    unpack_positions,
)
from strucmotif_search_spark.engine import SearchEngine

TOK = re.compile(TOKEN_PATTERN)

DOCS = [
    ("r", "p0", "c0", "py", "new york city new york"),
    ("r", "p1", "c1", "py", "york new nothing here"),
    ("r", "p2", "c2", "py", "the new york marathon"),
    ("r", "p3", "c3", "py", "new new york york"),
    ("r", "p4", "c4", "py", "completely unrelated words"),
    ("r", "p5", "c5", "py", "def def def x"),
]


def _phrase_count(text: str, phrase: list[str]) -> int:
    toks = TOK.findall(text)
    return sum(
        1
        for i in range(len(toks) - len(phrase) + 1)
        if toks[i : i + len(phrase)] == phrase
    )


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    store = IndexStore(tmp_path_factory.mktemp("pos"))
    docs = spark.createDataFrame(
        DOCS, "repo string, path string, commit string, lang string, content string"
    )
    build_index(
        spark, docs, store, docs_per_shard=4, with_positions=True,
    )
    return SearchEngine(spark, store)


def _text_of(engine):
    dm = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in engine.doc_map.collect()
    }
    return {dm[(r, p, c)]: t for (r, p, c, _l, t) in DOCS}


@pytest.mark.parametrize(
    "phrase",
    ["new york", "new york city", "def def", "york new", "absent phrase"],
)
def test_phrase_matches_bruteforce(engine, phrase):
    texts = _text_of(engine)
    seq = TOK.findall(phrase)
    expected = sorted(
        (
            (d, _phrase_count(t, seq))
            for d, t in texts.items()
            if _phrase_count(t, seq) > 0
        ),
        key=lambda x: (-x[1], x[0]),
    )
    got = [
        (r["doc_id"], r["phrase_tf"])
        for r in engine.phrase_search(phrase, k=100).collect()
    ]
    assert got == expected


def test_positions_roundtrip(engine):
    """Decoded positions must equal the token ordinals of each document."""
    texts = _text_of(engine)
    terms = {r["term_id"]: r["term"] for r in engine.terms.collect()}
    rows = engine.postings.collect()
    seen = 0
    for row in rows:
        from strucmotif_search_spark.codec import unpack_block

        ids, tfs = unpack_block(bytes(row["doc_gaps"]), bytes(row["tfs"]))
        plists = unpack_positions(bytes(row["pos_data"]), tfs)
        term = terms[row["term_id"]]
        for d, tf, plist in zip(ids, tfs, plists):
            toks = TOK.findall(texts[int(d)])
            expected = [i for i, t in enumerate(toks) if t == term]
            assert list(plist) == expected
            assert len(plist) == tf
            seen += 1
    assert seen > 10


def test_phrase_requires_positional_index(spark, tmp_path_factory):
    store = IndexStore(tmp_path_factory.mktemp("nopos"))
    docs = spark.createDataFrame(
        DOCS, "repo string, path string, commit string, lang string, content string"
    )
    build_index(spark, docs, store, docs_per_shard=4)
    eng = SearchEngine(spark, store)
    with pytest.raises(ValueError, match="positional"):
        eng.phrase_search("new york")


def test_bm25_unaffected_by_positions(engine):
    hits = engine.search("new york", k=10, mode="and", with_meta=False).collect()
    assert len(hits) >= 3  # docs 0, 1(!has both), 2, 3 contain both terms


def test_head_term_phrase_skips_blocks(spark, tmp_path_factory):
    """Rarest-first narrowing: a phrase pairing a rare term with a head term
    must NOT decode the head term's full posting list — only blocks whose
    skip range overlaps the rare term's few docs.  Verified by the
    decoded-blocks accumulator against the head term's total block count,
    and for correctness against brute force."""
    from strucmotif_search_spark.build import IndexStore, build_index
    from strucmotif_search_spark.corpus import generate_corpus

    store = IndexStore(tmp_path_factory.mktemp("headphrase"))
    docs = generate_corpus(spark, 4000, seed=13, partitions=8).cache()
    docs.count()
    # ONE big shard so the head term's run spans many 128-doc blocks —
    # in-shard block-range skipping is what's under test
    build_index(
        spark, docs, store, docs_per_shard=4096, with_positions=True,
    )
    eng = SearchEngine(spark, store)
    # rare: a per-repo unique identifier; head: 'import' (df ~ 0.48 * N)
    rare = (
        eng.terms.orderBy("df", "term_id").where(F.col("df") <= 3)
        .first()["term"]
    )
    head_id = eng.terms.where(F.col("term") == "import").first()["term_id"]
    total_head_blocks = eng.postings.where(
        F.col("term_id") == head_id
    ).count()
    assert total_head_blocks > 10, (
        f"corpus too small to exercise skipping ({total_head_blocks} blocks)"
    )
    acc = spark.sparkContext.accumulator(0)
    got = eng.phrase_search(f"{rare} import", k=100, decoded_blocks_acc=acc)
    got_rows = {(r["doc_id"], r["phrase_tf"]) for r in got.collect()}
    # brute-force truth over the raw corpus
    dm = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in eng.doc_map.collect()
    }
    expected = set()
    for r in docs.collect():
        cnt = _phrase_count(r["content"], [rare, "import"])
        if cnt > 0:
            expected.add((dm[(r["repo"], r["path"], r["commit"])], cnt))
    assert got_rows == expected
    # skip evidence: the whole query decoded fewer blocks than the head
    # term's posting list alone holds (the old path decoded every block of
    # every slot, rare AND head)
    assert acc.value < total_head_blocks, (
        f"decoded {acc.value} blocks; head term alone has {total_head_blocks}"
    )
