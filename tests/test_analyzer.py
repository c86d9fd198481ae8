"""Code analyzer (camelCase/snake_case subtoken split + casefold) — the
text->text pre-transform in front of the frozen tokenizer
(tokenizer.analyze_expr / analyze_text), recorded per generation and
replayed by the query layer and incremental ADD."""

import hashlib

import pytest

from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.oracle import bm25_topk, build_oracle
from strucmotif_search_spark.tokenizer import analyze_text

DOCS = [
    ("r", "p0", "c0", "py", "def getFooBar(x): return FooBar(x)"),
    ("r", "p1", "c1", "py", "class HTTPServer2Go: snake_case_name = 1"),
    ("r", "p2", "c2", "py", "foo bar baz plain lower tokens"),
    ("r", "p3", "c3", "py", "GetFoo get_foo GETFOO getfoo"),
    ("r", "p4", "c4", "py", "parseJSONResponse and XMLHttpRequest helpers"),
    ("r", "p5", "c5", "py", "no matches here at all whatsoever"),
]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    store = IndexStore(tmp_path_factory.mktemp("code_an"))
    docs = spark.createDataFrame(
        DOCS,
        "repo string, path string, commit string, lang string, content string",
    )
    build_index(
        spark, docs, store, docs_per_shard=2,
        with_positions=True, analyzer="code",
    )
    return SearchEngine(spark, store)


def _oracle(engine):
    dm = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in engine.doc_map.collect()
    }
    ids = [dm[(r[0], r[1], r[2])] for r in DOCS]
    order = sorted(range(len(DOCS)), key=lambda i: ids[i])
    return build_oracle(
        [ids[i] for i in order],
        [analyze_text(DOCS[i][4], "code") for i in order],
    )


def test_analyze_text_rules():
    assert analyze_text("getFooBar", "code") == "get foo bar"
    assert analyze_text("HTTPServer2Go", "code") == "http server2 go"
    assert analyze_text("snake_case_name", "code") == "snake case name"
    assert analyze_text("XMLHttpRequest", "code") == "xml http request"
    assert analyze_text("plain lower", "code") == "plain lower"
    assert analyze_text("anything", "standard") == "anything"
    with pytest.raises(ValueError):
        analyze_text("x", "nope")


def test_meta_records_analyzer(engine):
    assert engine.meta["analyzer"] == "code"
    assert engine.analyzer == "code"


def test_subtoken_search_matches_oracle_bitwise(engine):
    oi = _oracle(engine)
    for q, mode in [
        ("getFoo", "or"),          # camel query -> get+foo subtokens
        ("foo bar", "and"),
        ("snake_case_name", "or"),  # snake query splits to 3 terms
        ("http request", "and"),   # acronym subtokens from two docs
        ("FOO", "or"),             # casefold: matches every foo
    ]:
        want = [
            (d, s) for d, s in bm25_topk(
                oi, analyze_text(q, "code"), k=10, mode=mode
            )
        ]
        got = [
            (r["doc_id"], r["score"])
            for r in engine.search(q, k=10, mode=mode, with_meta=False).collect()
        ]
        assert got == want, q


def test_sha_invariant_hashes_raw_content(engine):
    texts = {(r[0], r[1], r[2]): r[4] for r in DOCS}
    for r in engine.doc_map.collect():
        raw = texts[(r["repo"], r["path"], r["commit"])]
        assert r["content_sha256"] == hashlib.sha256(raw.encode()).hexdigest()


def test_doclen_counts_analyzed_tokens(engine):
    texts = {(r[0], r[1], r[2]): r[4] for r in DOCS}
    from strucmotif_search_spark.oracle import tokenize

    for r in engine.doc_map.collect():
        raw = texts[(r["repo"], r["path"], r["commit"])]
        assert r["doclen"] == len(tokenize(analyze_text(raw, "code")))


def test_phrase_over_analyzed_positions(engine):
    # 'getFooBar' analyzes to the 3-token phrase get/foo/bar — positions in
    # the index are ordinals of the ANALYZED token stream
    rows = engine.phrase_search("getFooBar", k=5).collect()
    assert len(rows) == 1
    meta = {r["doc_id"]: r for r in engine.doc_map.collect()}
    assert meta[rows[0]["doc_id"]]["path"] == "p0"
    # subtokens out of order do not phrase-match
    assert engine.phrase_search("bar foo", k=5).count() == 0


def test_incremental_add_replays_analyzer(spark, engine, tmp_path_factory):
    from strucmotif_search_spark.streaming.incremental import add_documents

    root = tmp_path_factory.mktemp("code_incr")
    store = IndexStore(root)
    base = spark.createDataFrame(
        DOCS[:4],
        "repo string, path string, commit string, lang string, content string",
    )
    build_index(
        spark, base, store, docs_per_shard=2,
        with_positions=True, analyzer="code",
    )
    delta = spark.createDataFrame(
        DOCS[4:],
        "repo string, path string, commit string, lang string, content string",
    )
    add_documents(spark, store, delta)
    incr = SearchEngine(spark, store)
    # ADD must tokenize the delta through the generation's analyzer: the
    # incremental index answers identically to the from-scratch build
    full = engine
    for q in ["http request", "getFoo", "json response"]:
        got = [
            (r["path"], r["score"]) for r in incr.search(q, k=10).collect()
        ]
        want = [
            (r["path"], r["score"]) for r in full.search(q, k=10).collect()
        ]
        assert got == want, q


def test_analyze_expr_matches_python_replica_randomized(spark):
    # cross-engine regex parity (Java vs Python re) over randomized
    # identifier soup — the portable-subset claim, checked empirically
    import random

    from pyspark.sql import functions as F

    from strucmotif_search_spark.tokenizer import analyze_expr

    rng = random.Random(42)
    frags = ["get", "Foo", "BAR", "baz9", "_", "HTTP", "x", "Q", "2k",
             "Server", "do_", "__init__", "A", "b", "JSON", ""]
    texts = [
        "".join(rng.choice(frags) for _ in range(rng.randint(1, 12)))
        for _ in range(300)
    ]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r["a"] for r in
           df.select(analyze_expr(F.col("t"), "code").alias("a")).collect()]
    want = [analyze_text(t, "code") for t in texts]
    assert got == want


def test_code_analyzer_idempotent():
    # analyzed output has no uppercase and no underscores left, so a second
    # pass is a no-op — the fixpoint property incremental replays rely on
    import random

    rng = random.Random(7)
    frags = ["getX", "FooBAR2", "snake_case", "HTTPServer", "q_", "Z9z"]
    for _ in range(100):
        t = " ".join(rng.choice(frags) for _ in range(rng.randint(1, 8)))
        once = analyze_text(t, "code")
        assert analyze_text(once, "code") == once


def test_match_set_and_explain_apply_analyzer(engine):
    """match_set (facet_counts / delete_by_query core), explain and MLT
    must analyze the query like search does — a camelCase query against a
    code-analyzer index resolves through the casefolded/split vocabulary."""
    from strucmotif_search_spark.query.analytics import (
        explain_contributions,
        match_set,
        more_like_this,
    )

    hits = {
        r["doc_id"]
        for r in engine.search("getFoo", k=50, with_meta=False).collect()
    }
    assert hits  # p0, p3 at least
    ms = {r["doc_id"] for r in match_set(engine, "getFoo").collect()}
    assert ms == hits

    # explain: per-term contributions for the analyzed subtokens sum to
    # the search score for each explained doc
    scores = {
        r["doc_id"]: r["score"]
        for r in engine.search("getFoo", k=50, with_meta=False).collect()
    }
    exp = explain_contributions(engine, "getFoo", sorted(hits)).collect()
    assert {r["term"] for r in exp} <= {"get", "foo"}
    import collections

    # summed in ascending term_id order from 0.0 (the scorer's order), the
    # contributions equal the search score exactly
    tid = {t: v[0] for t, v in engine._vocab_lookup(["get", "foo"]).items()}
    per_doc = collections.defaultdict(list)
    for r in exp:
        per_doc[r["doc_id"]].append((tid[r["term"]], r["contrib"]))
    for d, s in scores.items():
        total = 0.0
        for _tid, c in sorted(per_doc[d]):
            total += c
        assert total == s

    # MLT: a camelCase probe finds the camelCase-indexed docs
    mlt = more_like_this(engine, "some getFoo helper code", k=10)
    assert mlt.count() > 0
    # and forwarding mode does not collide with the default
    assert more_like_this(
        engine, "some getFoo helper code", k=10, mode="or"
    ).count() > 0


def test_classify_applies_analyzer(spark, engine):
    """classify (and thus classify_stream) must analyze both the library
    queries and the probe documents with the generation's analyzer."""
    probes = spark.createDataFrame(
        [(0, "wrapper around GetFooBar internals"),
         (1, "totally unrelated words")],
        "doc_id long, content string",
    )
    out = engine.classify(
        probes, {"lib_getfoo": "getFoo"}, mode="and"
    ).collect()
    assert [r["doc_id"] for r in out] == [0]
    # subtoken count: 'getFoo' -> get+foo, both required in AND mode
    assert out[0]["n_matched"] == 2


def test_content_slices_budget_invariant():
    """ADVICE round-3: every multi-row slice must total <= the Arrow char
    budget (the old searchsorted cut could land threshold + one row past
    it); single rows bigger than the budget still pass through whole."""
    import pandas as pd

    from strucmotif_search_spark import tokenizer as tk

    orig = tk._ARROW_SLICE_CHARS
    tk._ARROW_SLICE_CHARS = 100
    try:
        pdf = pd.DataFrame({
            "content": ["a" * 60, "b" * 60, "c" * 250, "d" * 10, "e" * 95],
            "doc_id": range(5),
        })
        slices = list(tk._content_slices(pdf))
        # reassembles exactly, in order
        assert pd.concat(slices)["content"].tolist() == pdf["content"].tolist()
        for s in slices:
            total = int(s["content"].map(len).sum())
            assert total <= 100 or len(s) == 1  # only a lone row may exceed
        # the oversized row is isolated in its own slice
        assert any(len(s) == 1 and s["content"].iloc[0].startswith("c")
                   for s in slices)
        # small batch passes through untouched as a single slice
        small = pd.DataFrame({"content": ["xy", "z"], "doc_id": [0, 1]})
        assert len(list(tk._content_slices(small))) == 1
    finally:
        tk._ARROW_SLICE_CHARS = orig
