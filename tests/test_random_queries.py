"""Randomized cross-check of the whole query family against brute-force
oracles on one seeded random corpus — the fuzzing layer above the
hand-picked fixtures (same discipline as the winnow/CC randomized batch
checks in test_operators.py).

The corpus is built with a SMALL docs_per_shard so queries cross many
shards and posting blocks, exercising block boundaries, shard-local top-k
heaps and the skip-pointer ranges that tiny fixtures cannot.  The BM25
checks run on both arms of the DAAT kernel: as written on the driver arm
(every plan here is small), and through ``spark_arm`` on the Spark arm."""

import random
import re

import pytest

from strucmotif_search_spark import TOKEN_PATTERN
from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.oracle import (
    bm25_topk,
    build_oracle,
    near_spans,
    ql_topk,
)

TOK = re.compile(TOKEN_PATTERN)
VOCAB = [f"w{i:02d}" for i in range(30)]
N_DOCS = 120


def _mk_docs():
    rng = random.Random(4321)
    rows = []
    for i in range(N_DOCS):
        n = rng.randint(1, 40)
        # Zipf-ish skew: low ids much more frequent (head terms exist)
        toks = [
            VOCAB[min(int(rng.expovariate(0.18)), len(VOCAB) - 1)]
            for _ in range(n)
        ]
        rows.append(("r", f"p{i:04d}", f"c{i}", "py", " ".join(toks)))
    return rows


DOCS = _mk_docs()


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    store = IndexStore(tmp_path_factory.mktemp("rndq"))
    docs = spark.createDataFrame(
        DOCS,
        "repo string, path string, commit string, lang string, content string",
    )
    build_index(
        spark, docs, store, docs_per_shard=8, with_positions=True,
    )
    return SearchEngine(spark, store)


@pytest.fixture(scope="module")
def oracle_and_texts(engine):
    dm = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in engine.doc_map.collect()
    }
    texts = {dm[(r, p, c)]: t for (r, p, c, _l, t) in DOCS}
    ids = sorted(texts)
    return build_oracle(ids, [texts[d] for d in ids]), texts


def _rand_terms(rng, n):
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def test_random_bm25_or_and(engine, oracle_and_texts):
    idx, _ = oracle_and_texts
    rng = random.Random(7)
    for trial in range(12):
        q = _rand_terms(rng, rng.randint(1, 5))
        mode = rng.choice(["or", "and"])
        k = rng.choice([1, 3, 10, 50])
        expected = bm25_topk(idx, q, k=k, mode=mode)
        got = [
            (r["doc_id"], r["score"])
            for r in engine.search(
                q, k=k, mode=mode, with_meta=False
            ).collect()
        ]
        assert got == expected, (trial, q, mode, k)


def test_random_bm25_not_and_bool(engine, oracle_and_texts):
    idx, _ = oracle_and_texts
    rng = random.Random(13)
    for trial in range(8):
        q = _rand_terms(rng, rng.randint(1, 3))
        excl = _rand_terms(rng, 1)
        should = _rand_terms(rng, rng.randint(1, 2))
        expected = bm25_topk(idx, q, k=20, exclude=excl, should=should)
        got = [
            (r["doc_id"], r["score"])
            for r in engine.search(
                q, k=20, with_meta=False, exclude=excl, should=should
            ).collect()
        ]
        assert got == expected, (trial, q, excl, should)


def test_random_expansions(engine, oracle_and_texts):
    idx, _ = oracle_and_texts
    rng = random.Random(29)
    for trial in range(8):
        bases = sorted({rng.choice(VOCAB) for _ in range(2)})
        pool = [w for w in VOCAB if w not in bases]
        rng.shuffle(pool)
        exp: dict[str, list[str]] = {}
        it = iter(pool)
        for b in bases:
            exp[b] = sorted({next(it) for _ in range(rng.randint(1, 3))})
        mode = rng.choice(["or", "and"])
        expected = bm25_topk(
            idx, " ".join(bases), k=15, mode=mode, expansions=exp
        )
        got = [
            (r["doc_id"], r["score"])
            for r in engine.search(
                " ".join(bases), k=15, mode=mode, with_meta=False,
                expansions=exp,
            ).collect()
        ]
        assert got == expected, (trial, bases, exp, mode)


def test_random_ql(engine, oracle_and_texts):
    idx, _ = oracle_and_texts
    rng = random.Random(31)
    for trial in range(8):
        q = _rand_terms(rng, rng.randint(1, 4))
        expected = ql_topk(idx, q, k=25)
        got = [
            (r["doc_id"], r["score"])
            for r in engine.ql_search(q, k=25, with_meta=False).collect()
        ]
        assert got == expected, (trial, q)


def test_random_near_unordered_and_ordered(engine, oracle_and_texts):
    _, texts = oracle_and_texts
    rng = random.Random(37)
    for trial in range(10):
        q = _rand_terms(rng, rng.randint(2, 3))
        w = rng.choice([1, 3, 8, 30])
        ordered = rng.random() < 0.5
        expected = near_spans(texts, q, w, ordered=ordered)
        got = [
            (r["doc_id"], r["span"])
            for r in engine.near_search(
                q, w, k=10_000, ordered=ordered
            ).collect()
        ]
        assert got == expected, (trial, q, w, ordered)


def test_random_cursor_pages_equal_offset(engine, oracle_and_texts):
    idx, _ = oracle_and_texts
    rng = random.Random(41)
    for trial in range(5):
        q = _rand_terms(rng, rng.randint(1, 3))
        full = bm25_topk(idx, q, k=1000)
        if len(full) < 4:
            continue
        cut = rng.randint(1, len(full) - 2)
        cursor = (full[cut - 1][1], full[cut - 1][0])
        got = [
            (r["doc_id"], r["score"])
            for r in engine.search(
                q, k=3, after=cursor, with_meta=False
            ).collect()
        ]
        assert got == full[cut: cut + 3], (trial, q, cut)


def test_random_fielded(engine, oracle_and_texts):
    # fielded most_fields over the path field: content oracle + field oracle
    # (paths are unique single tokens -> field side behaves needle-like)
    from strucmotif_search_spark.oracle import bm25f_topk

    idx, texts = oracle_and_texts
    dm = {r["doc_id"]: r["path"] for r in engine.doc_map.collect()}
    ids = sorted(texts)
    fld = build_oracle(ids, [dm[d] for d in ids])
    rng = random.Random(99)
    for trial in range(8):
        parts = [rng.choice(VOCAB) for _ in range(rng.randint(1, 3))]
        if rng.random() < 0.7:
            parts.append(dm[rng.choice(ids)])  # a real path token
        q = " ".join(parts)
        mode = rng.choice(["or", "and"])
        w_f = rng.choice([1.0, 2.0, 0.5])
        expected = bm25f_topk(idx, fld, q, k=10, mode=mode, w_field=w_f)
        got = [
            (r["doc_id"], r["score"])
            for r in engine.fielded_search(
                q, field="path", k=10, mode=mode, w_field=w_f,
                with_meta=False,
            ).collect()
        ]
        assert got == expected, (trial, q, mode, w_f)


def test_random_msearch_slices_equal_solo(engine, oracle_and_texts):
    idx, _ = oracle_and_texts
    rng = random.Random(123)
    for trial in range(4):
        batch = {
            f"q{j}": _rand_terms(rng, rng.randint(1, 4))
            for j in range(rng.randint(2, 6))
        }
        mode = rng.choice(["or", "and"])
        k = rng.choice([3, 10])
        got: dict = {}
        for r in engine.msearch(batch, k=k, mode=mode).collect():
            got.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["score"])
            )
        for qid in got:
            got[qid].sort(key=lambda t: (-t[1], t[0]))
        for qid, q in batch.items():
            expected = bm25_topk(idx, q, k=k, mode=mode)
            assert got.get(qid, []) == expected, (trial, qid, q, mode, k)


@pytest.mark.parametrize(
    "check",
    [
        test_random_bm25_or_and,
        test_random_bm25_not_and_bool,
        test_random_expansions,
        test_random_cursor_pages_equal_offset,
    ],
    ids=lambda f: f.__name__,
)
def test_random_bm25_on_spark_arm(engine, oracle_and_texts, spark_arm, check):
    check(engine, oracle_and_texts)
