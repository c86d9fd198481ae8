"""The two arms of the DAAT kernel (query/daat.py) answer alike.

A small plan is scored on the driver (``bm25_topk_local`` over pyarrow
reads) and a large one, or one with a doc predicate, on the Spark cogroup
arm (``bm25_topk_daat``).  Both run ``_make_scorer``, so their rows,
scores, metadata and column types must be identical — checked here on an
ADD + REMOVE generation whose postings span `_refs.json` parts with
excluded shards, the hardest layout the driver arm reads."""

import re
import struct
import threading
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.corpus import generate_corpus
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.query import daat
from strucmotif_search_spark.session import local_frame
from strucmotif_search_spark.streaming.incremental import (
    add_documents,
    remove_documents,
)

N0, N_ADD = 240, 60

BITS = [0.1 + 0.2, 1 / 3, 5e-324, 1.7976931348623157e308, 0.0, -2.5]


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


@pytest.mark.parametrize("n", [0, 1, len(BITS)])
def test_local_frame_keeps_names_types_and_bits(spark, n):
    schema = "doc_id long, score double, path string"
    pdf = pd.DataFrame({
        "doc_id": list(range(n)),
        "score": BITS[:n],
        "path": [f"p{i}" for i in range(n)],
    })
    df = local_frame(spark, pdf if n else [], schema)
    assert df.dtypes == [
        ("doc_id", "bigint"), ("score", "double"), ("path", "string"),
    ]
    rows = df.collect()
    assert [r["doc_id"] for r in rows] == list(range(n))
    assert [_bits(r["score"]) for r in rows] == [_bits(x) for x in BITS[:n]]
    assert [r["path"] for r in rows] == [f"p{i}" for i in range(n)]


def test_fits_driver_boundary():
    # work = postings + 150 per (term, shard) list + 2,500 per shard
    assert daat.driver_work(64, [20_000] * 40) == 800_000 + 384_000 + 160_000
    assert daat.fits_driver(0, [])
    assert daat.fits_driver(1, [1_400_000 - 150 - 2_500])
    assert not daat.fits_driver(1, [1_400_000 - 150 - 2_500 + 1])
    assert daat.fits_driver(2, [1_300_000])
    assert not daat.fits_driver(2, [1_400_000])
    # lists: 40 frequent terms on 64 shards fit, 42 do not
    assert daat.fits_driver(64, [20_000] * 40)
    assert not daat.fits_driver(64, [20_000] * 42)
    # shards: 360 single-posting terms on 375 shards fit, 600 on 1,000 not
    assert daat.fits_driver(375, [1] * 360)
    assert not daat.fits_driver(1_000, [1] * 600)


@pytest.fixture(scope="module")
def refs_engine(spark, tmp_path_factory):
    full = generate_corpus(spark, N0 + N_ADD, seed=11, partitions=8).cache()
    keys = full.select("repo", "path", "commit").orderBy(
        "repo", "path", "commit"
    )
    head = keys.limit(N0)
    base = full.join(head, on=["repo", "path", "commit"], how="left_semi")
    extra = full.join(head, on=["repo", "path", "commit"], how="left_anti")
    store = IndexStore(tmp_path_factory.mktemp("arms"))
    build_index(spark, base, store, docs_per_shard=32)
    add_documents(spark, store, extra)
    remove_documents(
        spark, store, base.where(F.col("path").endswith("3.py"))
        .select("repo", "path", "commit"),
    )
    eng = SearchEngine(spark, store)
    parts = store.posting_parts(eng.gen)
    assert len(parts) >= 3 and any(excl for _p, excl in parts)
    return eng


# (call, query, kwargs, answer): "hits"; "empty" = scored, no hit;
# "no-plan" = provably no hit, so nothing is read or scored
CASES = [
    ("search", "import def", {}, "hits"),
    ("search", "v_00001 v_00002", {"mode": "and"}, "hits"),
    ("search", "import", {"k": 5, "offset": 7}, "hits"),
    ("search", "import", {"k": 5, "after": "cursor"}, "hits"),
    ("search", "import def", {"exclude": "v_00001 return"}, "hits"),
    ("search", "import", {"should": "v_00001 return"}, "hits"),
    ("search", "v_00001", {"expansions": {"v_00001": ["v_00002", "v_00003"]}},
     "hits"),
    ("min_match", "import v_00001 v_00002 def", {"min_match": 2}, "hits"),
    ("search", "import", {"exclude": "import"}, "empty"),
    ("search", "zz_absent", {}, "no-plan"),
    ("search", "zz_absent import", {"mode": "and"}, "no-plan"),
    ("min_match", "import def", {"min_match": 3}, "no-plan"),
]


def _run(eng, kind, query, kw, with_meta):
    if kind == "min_match":
        df = eng.search_min_match(query, with_meta=with_meta, **kw)
    else:
        df = eng.search(query, with_meta=with_meta, **kw)
    return df.dtypes, [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("with_meta", [False, True])
@pytest.mark.parametrize("kind,query,kw,answer", CASES)
def test_arms_answer_alike_on_refs_generation(
    refs_engine, monkeypatch, kind, query, kw, answer, with_meta
):
    eng = refs_engine
    kw = dict(kw)
    if kw.get("after") == "cursor":
        page = eng.search(query, k=3, with_meta=False).collect()
        kw["after"] = (page[-1]["score"], page[-1]["doc_id"])
    calls = []
    local = daat.bm25_topk_local

    def counted(*a, **k):
        calls.append(1)
        return local(*a, **k)

    monkeypatch.setattr(daat, "bm25_topk_local", counted)
    driver = _run(eng, kind, query, kw, with_meta)
    with monkeypatch.context() as m:
        m.setattr(daat, "fits_driver", lambda n_shards, dfs: False)
        spark_rows = _run(eng, kind, query, kw, with_meta)
    assert driver[0] == spark_rows[0]  # names and types
    assert driver[1] == spark_rows[1]
    assert [_bits(r[1]) for r in driver[1]] == [
        _bits(r[1]) for r in spark_rows[1]
    ]
    assert bool(driver[1]) == (answer == "hits")
    assert len(calls) == (0 if answer == "no-plan" else 1)


def test_small_search_runs_no_spark_job(refs_engine):
    eng = refs_engine
    sc = eng.spark.sparkContext
    eng.search("import def", k=10).collect()  # first call opens datasets
    group = f"driver-arm-{time.time_ns()}"
    sc.setJobGroup(group, "driver arm")
    try:
        rows = eng.search("import def", k=10).collect()
        empty = eng.search("zz_absent", k=10).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 10 and empty == []
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_search_with_timeout_bounds_driver_arm(refs_engine, monkeypatch):
    local = daat.bm25_topk_local

    def slow(*a, **k):
        time.sleep(2)
        return local(*a, **k)

    monkeypatch.setattr(daat, "bm25_topk_local", slow)
    t0 = time.perf_counter()
    with pytest.raises(TimeoutError):
        refs_engine.search_with_timeout("import", timeout_s=0.5)
    assert time.perf_counter() - t0 < 1.5


def test_search_with_timeout_cancels_jobs_started_after_it(
    refs_engine, spark_arm, monkeypatch
):
    """The pruned Spark arm runs its actions one after another.  A timeout
    that lands between two of them must still stop the search: the next
    action is refused, and no job of the group is left running."""
    eng = refs_engine
    tracker = eng.spark.sparkContext.statusTracker()
    eng.search("import def", prune_shards=True).collect()  # warm
    frame = type(eng.postings)
    to_pandas = frame.toPandas
    entered, refused, done = (threading.Event() for _ in range(3))

    def slow_phase1(self):  # the pruned plan's probe-shard collect
        entered.set()
        time.sleep(3)
        try:
            return to_pandas(self)
        except Exception:
            refused.set()
            raise
        finally:
            done.set()

    monkeypatch.setattr(frame, "toPandas", slow_phase1)
    with pytest.raises(TimeoutError) as exc:
        eng.search_with_timeout("import def", timeout_s=2, prune_shards=True)
    assert entered.is_set()  # the timeout landed between two jobs
    group = re.search(r"job group (\S+)", str(exc.value)).group(1)
    before = set(tracker.getJobIdsForGroup(group))
    assert done.wait(20) and refused.is_set()
    time.sleep(0.5)
    later = [
        tracker.getJobInfo(j).status
        for j in tracker.getJobIdsForGroup(group) if j not in before
    ]
    assert "RUNNING" not in later


def _job_ids(sc, group: str, fn) -> list:
    """The Spark jobs ``fn()`` launches, counted by job group."""
    sc.setJobGroup(group, "driver arm")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_open_and_small_queries_run_no_spark_job(refs_engine):
    """Opening an engine reads ``_meta.json`` and the stats row with
    pyarrow; with a small search and a small msearch after it, no Spark
    job runs — on the built, the ADD and the REMOVE generation."""
    spark, store = refs_engine.spark, refs_engine.store
    sc = spark.sparkContext
    gens = sorted(p.name for p in store.root.glob("gen-*"))
    assert len(gens) == 3 and gens[-1] == refs_engine.gen
    for gen in gens:
        opened = []
        assert _job_ids(
            sc, f"open-{gen}-{time.time_ns()}",
            lambda: opened.append(SearchEngine(spark, store, gen=gen)),
        ) == [], gen
        eng = opened[0]
        answers = {}

        def queries():
            answers["search"] = eng.search("import def", k=10).collect()
            answers["msearch"] = eng.msearch(
                {"a": "import def", "b": "v_00001", "c": "zz_absent"}, k=5,
            ).collect()

        assert _job_ids(sc, f"query-{gen}-{time.time_ns()}", queries) == [], gen
        assert len(answers["search"]) == 10
        assert {r["query_id"] for r in answers["msearch"]} == {"a", "b"}


MSEARCH_BATCHES = {
    "mixed": {
        "q1": "import def", "q2": "v_00001 v_00002", "q3": "return",
        "q4": "zz_absent", "q5": "import zz_absent",
    },
    "absent": {"x": "zz_absent", "y": "zz_absent zz_other"},
}


def _msearch_rows(eng, batch, mode, with_meta):
    df = eng.msearch(batch, k=7, mode=mode, with_meta=with_meta)
    rows = [tuple(r) for r in df.collect()]
    if not with_meta:  # the Spark arm's window leaves rows unordered
        rows.sort(key=lambda r: (r[0], -r[2], r[1]))
    return df.dtypes, rows


@pytest.mark.parametrize("with_meta", [False, True])
@pytest.mark.parametrize("mode", ["or", "and"])
@pytest.mark.parametrize("batch", sorted(MSEARCH_BATCHES))
def test_msearch_arms_answer_alike_on_refs_generation(
    refs_engine, monkeypatch, batch, mode, with_meta
):
    eng = refs_engine
    queries = MSEARCH_BATCHES[batch]
    calls = []
    local = daat.bm25_topk_local

    def counted(*a, **k):
        calls.append(1)
        return local(*a, **k)

    monkeypatch.setattr(daat, "bm25_topk_local", counted)
    driver = _msearch_rows(eng, queries, mode, with_meta)
    with monkeypatch.context() as m:
        m.setattr(daat, "fits_driver", lambda n_shards, dfs: False)
        spark_rows = _msearch_rows(eng, queries, mode, with_meta)
    assert driver[0] == spark_rows[0]  # names and types
    assert driver[1] == spark_rows[1]
    names = [name for name, _t in driver[0]]
    qid_at, doc_at, score = (
        names.index(c) for c in ("query_id", "doc_id", "score")
    )
    assert [_bits(r[score]) for r in driver[1]] == [
        _bits(r[score]) for r in spark_rows[1]
    ]
    live = {
        qid for qid, q in queries.items()
        if daat.plan_mode(eng.plan(q), mode) is not None
    }
    assert len(calls) == len(live)
    got = {r[qid_at] for r in driver[1]}
    assert got <= live and bool(got) == (batch == "mixed")
    # each query's slice is its solo search, bit for bit
    for qid in live:
        solo = eng.search(queries[qid], k=7, mode=mode, with_meta=False)
        assert [
            (r[doc_at], _bits(r[score])) for r in driver[1] if r[qid_at] == qid
        ] == [(r["doc_id"], _bits(r["score"])) for r in solo.collect()]
