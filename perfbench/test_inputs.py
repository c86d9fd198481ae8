"""The benchmark's own checks: seeded inputs are reproducible, the keyed
oracle answers as the whole-corpus oracle does, and span self time
subtracts child spans.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

from collections import Counter

import pytest

from perfbench import inputs
from perfbench.tracing import Tracer

N = 300


@pytest.fixture(scope="module")
def spark():
    from strucmotif_search_spark.session import get_spark

    s = get_spark("perfbench-test", cores=2,
                  extra_conf={"spark.driver.memory": "1g"})
    yield s
    s.stop()


def _inputs(spark, seed: int):
    from strucmotif_search_spark import oracle
    from strucmotif_search_spark.corpus import generate_corpus

    pdf = generate_corpus(spark, N, seed=seed).toPandas()
    df = Counter(t for text in pdf.content for t in set(oracle.tokenize(text)))
    queries = inputs.make_queries(seed, dict(df), N, 50)
    base = sorted(zip(pdf.repo, pdf.path, pdf.commit))
    return (inputs.corpus_hash(pdf), inputs.queries_digest(queries),
            inputs.remove_keys(seed, 0, base, set(base), 10, 0, 8192))


def test_same_seed_same_inputs_other_seed_other_inputs(spark):
    a, again, b = _inputs(spark, 7), _inputs(spark, 7), _inputs(spark, 8)
    assert a == again
    for mine, other in zip(a, b):
        assert mine != other


def test_query_mix_is_the_block_of_templates():
    df = {f"t{i}": i % 400 + 1 for i in range(2000)}
    queries = inputs.make_queries(3, df, 1000, 4 * inputs.BLOCK)
    for b in range(4):  # every block sends each template once
        block = queries[b * inputs.BLOCK:(b + 1) * inputs.BLOCK]
        assert sorted(q["name"] for q in block) == sorted(
            t["name"] for t in inputs.BLOCK_TEMPLATES)
    assert {b for q in queries for b in q["bands"]} == {
        "tail", "mid", "head", "absent"}
    assert {q["shape"] for q in queries} == {
        "or", "and", "must_should", "exclude", "expansions"}
    assert {q["k"] for q in queries} == {10, 100, 1000}
    for q in queries:
        terms = list(dict.fromkeys(
            q["query"].split() + (q["should"] or "").split()))
        assert len(terms) == len(q["bands"])
        assert all((t in df) == (b != "absent")
                   for t, b in zip(terms, q["bands"]))


def test_remove_batch_is_one_org_in_one_shard():
    base = sorted((f"org{o}/repo{r}", f"p{i}", "c")
                  for o in range(5) for r in range(4) for i in range(8))
    live = set(base[:-3])
    for shard in (0, 1):
        keys = inputs.remove_keys(11, shard, base, live, 20, shard, 96)
        assert len(set(keys)) == 20 and set(keys) <= live
        assert len({inputs.org_of(k[0]) for k in keys}) == 1
        assert {base.index(k) // 96 for k in keys} == {shard}
        assert keys == inputs.remove_keys(11, shard, base, live, 20, shard,
                                          96)


def test_keyed_oracle_matches_whole_corpus_oracle():
    from strucmotif_search_spark import oracle
    from perfbench.workloads import KeyedOracle, spec_terms

    texts = ["a b b c", "b c d", "a a e", "c d d d f", "e f g", "b"]
    keys = [("r", f"p{i}", "c") for i in range(len(texts))]
    ids = [5, 0, 3, 1, 4, 2]
    specs = [
        {"query": "b c", "should": None, "exclude": None,
         "expansions": None, "mode": "or", "k": 10},
        {"query": "c d", "should": None, "exclude": None,
         "expansions": None, "mode": "and", "k": 2},
        {"query": "a", "should": "d e", "exclude": "g",
         "expansions": {"a": ["f"]}, "mode": "or", "k": 10},
    ]
    keyed = KeyedOracle(dict(zip(keys, texts)),
                        set().union(*map(spec_terms, specs)))
    live = [0, 1, 3, 4]  # a generation after two removals
    index = keyed.index([ids[i] for i in live], [keys[i] for i in live])
    whole = oracle.build_oracle([ids[i] for i in live],
                                [texts[i] for i in live])
    for spec in specs:
        args = {k: spec[k] for k in
                ("k", "mode", "should", "exclude", "expansions")}
        assert oracle.bm25_topk(index, spec["query"], **args) == \
            oracle.bm25_topk(whole, spec["query"], **args)


def test_self_time_subtracts_children():
    tr = Tracer(None, enabled=False)
    tr.spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 1.0},
        {"id": 1, "parent": 0, "start": 0.1, "end": 0.3},
        {"id": 2, "parent": 0, "start": 1.2, "end": 1.5},  # a replay
        {"id": 3, "parent": 2, "start": 1.2, "end": 1.25},
    ]
    got = tr.self_ms()
    assert got[0] == pytest.approx(500.0)
    assert got[1] == pytest.approx(200.0)
    assert got[2] == pytest.approx(250.0)
    assert got[3] == pytest.approx(50.0)
