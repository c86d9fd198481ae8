"""Batch multi-query search (query/msearch.py): one index pass answering N
queries, each slice bitwise-equal to the single-query path and the numpy
oracle; plan shape asserts the single pushed-down scan."""

import pytest

from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.oracle import bm25_topk, build_oracle

DOCS = [
    ("r", f"p{i}", f"c{i}", "py", text)
    for i, text in enumerate(
        [
            "table scan over the query plan",
            "the query planner builds a table scan",
            "stream batch filter stream stream table",
            "query query query nothing else here",
            "a b c d e f g table h i j query",
            "completely unrelated words only",
            "scan scan scan stream plan plan",
            "filter plan batch table query scan",
        ]
    )
]

QUERIES = {
    "q_table": "table query",
    "q_scan": "scan",
    "q_and": "stream batch",
    "q_absent": "zz_nothing",
    "q_mixed": "plan zz_nothing",
}


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    store = IndexStore(tmp_path_factory.mktemp("msearch"))
    docs = spark.createDataFrame(
        DOCS,
        "repo string, path string, commit string, lang string, content string",
    )
    build_index(
        spark, docs, store, docs_per_shard=3,
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
        [ids[i] for i in order], [DOCS[i][4] for i in order]
    )


def _slices(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid in out:
        out[qid].sort(key=lambda t: (-t[1], t[0]))
    return out

def test_msearch_or_matches_oracle_per_query(engine):
    oi = _oracle(engine)
    got = _slices(engine.msearch(QUERIES, k=10, mode="or"))
    for qid, q in QUERIES.items():
        want = bm25_topk(oi, q, k=10, mode="or")
        assert got.get(qid, []) == want, qid


def test_msearch_and_matches_oracle_per_query(engine):
    oi = _oracle(engine)
    got = _slices(engine.msearch(QUERIES, k=10, mode="and"))
    for qid, q in QUERIES.items():
        want = bm25_topk(oi, q, k=10, mode="and")
        assert got.get(qid, []) == want, qid
    assert "q_absent" not in got       # empty plan
    assert "q_mixed" not in got        # AND with absent term -> empty


def test_msearch_equals_single_query_path(engine):
    got = _slices(engine.msearch(QUERIES, k=5))
    for qid, q in QUERIES.items():
        solo = [
            (r["doc_id"], r["score"])
            for r in engine.search(q, k=5, with_meta=False).collect()
        ]
        assert got.get(qid, []) == solo, qid


def test_msearch_k_cut_per_query(engine):
    got = _slices(engine.msearch({"a": "table query", "b": "scan"}, k=2))
    assert all(len(v) == 2 for v in got.values())


def test_msearch_single_scan_plan(engine, spark_arm):
    hits = engine.msearch({"a": "table", "b": "scan"}, k=3)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    # every query rides ONE shard-kernel cogroup over the union-of-terms
    # posting scan (filter pushed down) and the cached norms; doc lengths
    # come from the norms rows, so the doc dictionary is never scanned
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert "doc_map" not in plan
    assert "term_id" in plan


def test_msearch_with_meta(engine):
    rows = engine.msearch({"a": "table"}, k=3, with_meta=True).collect()
    assert all(r["path"].startswith("p") for r in rows)
    assert all(r["query_id"] == "a" for r in rows)
