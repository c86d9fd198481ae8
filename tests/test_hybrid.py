"""Hybrid BM25+dense retrieval with RRF fusion (query/hybrid.py) — checked
bitwise against a python replica of both candidate rankings (same sequential
float64 fold as the Catalyst cosine kernel) and the exact RRF arithmetic."""

import math
import random

import pytest

from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.oracle import bm25_topk, build_oracle

DIM = 8
N = 24


def _mk():
    rng = random.Random(77)
    rows = []
    vecs = {}
    for i in range(N):
        toks = " ".join(
            rng.choice(["table", "scan", "join", "merge", "probe", "wide"])
            for _ in range(rng.randint(3, 12))
        )
        if i == 0:
            toks = "unique_lexical_needle only here"
        if i == 1:
            toks = "nothing shared whatsoever"  # dense-only candidate
        rows.append(("r", f"p{i:03d}", f"c{i}", "py", toks))
        vecs[f"p{i:03d}"] = [
            round(rng.uniform(-1, 1), 3) for _ in range(DIM)
        ]
    return rows, vecs


DOCS, VECS = _mk()
QVEC = VECS["p001"]  # doc 1's own vector: dense side must rank it first


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    store = IndexStore(tmp_path_factory.mktemp("hybrid"))
    docs = spark.createDataFrame(
        DOCS,
        "repo string, path string, commit string, lang string, content string",
    )
    build_index(
        spark, docs, store, docs_per_shard=6,
    )
    return SearchEngine(spark, store)


@pytest.fixture(scope="module")
def embeddings(spark, engine):
    dm = {r["path"]: r["doc_id"] for r in engine.doc_map.collect()}
    return spark.createDataFrame(
        [(dm[p], v) for p, v in VECS.items()],
        "doc_id long, embedding array<double>",
    )


def _cos(a, b):
    # exact replica of similarity._dot/_norm: sequential left-to-right fold
    dot = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    na = 0.0
    for x in a:
        na += float(x) * float(x)
    nb = 0.0
    for y in b:
        nb += float(y) * float(y)
    return dot / (math.sqrt(na) * math.sqrt(nb))


def _oracle_rrf(engine, query, k=10, k0=60, n_candidates=100):
    dm = {r["path"]: r["doc_id"] for r in engine.doc_map.collect()}
    ids = sorted(dm.values())
    texts = {dm[p]: t for (_r, p, _c, _l, t) in DOCS}
    idx = build_oracle(ids, [texts[d] for d in ids])
    lex = bm25_topk(idx, query, k=n_candidates)
    r_lex = {d: i + 1 for i, (d, _s) in enumerate(lex)}
    cos = sorted(
        ((dm[p], _cos(v, QVEC)) for p, v in VECS.items()),
        key=lambda t: (-t[1], t[0]),
    )[:n_candidates]
    r_dense = {d: i + 1 for i, (d, _c) in enumerate(cos)}
    fused = {}
    for d in set(r_lex) | set(r_dense):
        a = 1.0 / (float(k0) + r_lex[d]) if d in r_lex else 0.0
        b = 1.0 / (float(k0) + r_dense[d]) if d in r_dense else 0.0
        fused[d] = a + b
    return sorted(fused.items(), key=lambda t: (-t[1], t[0]))[:k]


def test_rrf_matches_python_replica_bitwise(engine, embeddings):
    got = [
        (r["doc_id"], r["rrf"])
        for r in engine.hybrid_search(
            "table scan", embeddings, QVEC, k=10, with_meta=False
        ).collect()
    ]
    assert got == _oracle_rrf(engine, "table scan", k=10)


def test_dense_only_doc_is_retrievable(engine, embeddings):
    # doc p001 shares no query term but IS the query vector — lexical BM25
    # alone can never return it; hybrid must
    rows = engine.hybrid_search(
        "table scan", embeddings, QVEC, k=24
    ).collect()
    paths = [r["path"] for r in rows]
    assert "p001" in paths
    row = next(r for r in rows if r["path"] == "p001")
    assert row["r_dense"] == 1 and row["r_lex"] is None


def test_lexical_only_doc_is_retrievable(engine, embeddings):
    rows = engine.hybrid_search(
        "unique_lexical_needle", embeddings, QVEC, k=24
    ).collect()
    row = next(r for r in rows if r["path"] == "p000")
    assert row["r_lex"] == 1


def test_k0_changes_fusion(engine, embeddings):
    a = _oracle_rrf(engine, "table scan", k=10, k0=10)
    got = [
        (r["doc_id"], r["rrf"])
        for r in engine.hybrid_search(
            "table scan", embeddings, QVEC, k=10, k0=10, with_meta=False
        ).collect()
    ]
    assert got == a


def test_candidate_bound(engine, embeddings):
    got = engine.hybrid_search(
        "table scan", embeddings, QVEC, k=24, n_candidates=3,
        with_meta=False,
    ).collect()
    # at most 2 * n_candidates docs can appear in the fused set
    assert len(got) <= 6
    oracle = _oracle_rrf(engine, "table scan", k=24, n_candidates=3)
    assert [(r["doc_id"], r["rrf"]) for r in got] == oracle


def test_ann_backends_degenerate_to_bruteforce(engine, embeddings):
    """ann='ivf' with nprobe == n_cells (and 'lsh' probing every bucket)
    must fuse to EXACTLY the brute-force hybrid — the ANN knob trades
    candidate recall only, never ranking arithmetic."""
    base = [
        (r["doc_id"], r["rrf"])
        for r in engine.hybrid_search(
            "alpha beta", embeddings, QVEC, k=10, with_meta=False
        ).collect()
    ]
    cent_rows = embeddings.orderBy("doc_id").limit(4).collect()
    centroids = [
        (int(r["doc_id"]), [float(x) for x in r["embedding"]])
        for r in cent_rows
    ]
    got_ivf = [
        (r["doc_id"], r["rrf"])
        for r in engine.hybrid_search(
            "alpha beta", embeddings, QVEC, k=10, with_meta=False,
            ann="ivf", ann_opts={"nprobe": 4, "centroids": centroids},
        ).collect()
    ]
    assert got_ivf == base
    got_lsh = [
        (r["doc_id"], r["rrf"])
        for r in engine.hybrid_search(
            "alpha beta", embeddings, QVEC, k=10, with_meta=False,
            ann="lsh", ann_opts={"n_planes": 2, "multiprobe": 2},
        ).collect()
    ]
    assert got_lsh == base
    with pytest.raises(ValueError):
        engine.hybrid_search(
            "alpha beta", embeddings, QVEC, k=10, ann="nope"
        )
    # partial probe: a strict subset of dense candidates can only LOWER a
    # doc's rrf (fewer dense ranks) — sanity, not exactness
    got_p1 = engine.hybrid_search(
        "alpha beta", embeddings, QVEC, k=10, with_meta=False,
        ann="ivf", ann_opts={"nprobe": 1, "centroids": centroids},
    ).collect()
    assert len(got_p1) >= 1
