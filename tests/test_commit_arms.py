"""The two arms of an incremental commit (streaming/incremental.py) publish
the same generation.

A small ADD / REMOVE runs on the driver (streaming/local_commit.py:
pyarrow reads, the build's numpy kernels, pyarrow writes) and any other on
Spark.  Here one build is copied to two stores and one history is applied
through each arm; every generation's tables must match row for row, with
equal Arrow types, and so must ``_meta.json``, ``_refs.json`` (modulo the
store root) and the ``compact`` output."""

import json
import shutil
import time
from pathlib import Path

import pandas as pd
import pyarrow.dataset as ds
import pytest

from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.corpus import generate_corpus
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.streaming import incremental
from strucmotif_search_spark.streaming.incremental import (
    add_documents,
    compact,
    remove_documents,
    verify_consistency,
)

KEY = ["repo", "path", "commit"]
ZEROS = {"orphan_doc_ids": 0, "inconsistent_terms": 0, "duplicate_docs": 0}
TABLES = ("doc_map", "terms", "stats", "norms", "free_ids", "postings")
# characters whose case mapping differs between naive implementations; the
# code analyzer's lower() must treat them alike on both arms
UNICODE = "İstanbul straße STRAẞE 5Kelvin ΣΑΣ ﬁle getFooBar HTTPServer2Go"


@pytest.fixture(params=["driver", "spark"])
def commit_arm(request, monkeypatch):
    """Run the test once per commit arm; yields the arm's name."""
    if request.param == "spark":
        monkeypatch.setattr(
            incremental, "fits_driver_commit", lambda *a: False
        )
    return request.param


def _last_arm(store: IndexStore) -> str:
    return store.lineage()[-1]["arm"]


def _docs(spark, n: int, seed: int, unicode_every: int = 0) -> pd.DataFrame:
    pdf = (
        generate_corpus(spark, n, seed=seed, partitions=2).toPandas()
        .sort_values(KEY, ignore_index=True)
    )
    if unicode_every:
        rows = pdf.index[::unicode_every]
        pdf.loc[rows, "content"] = UNICODE + " " + pdf.loc[rows, "content"]
    return pdf


def test_duplicate_keys_in_one_add_batch(spark, tmp_path, commit_arm):
    """Exact duplicate rows collapse to one document; a key that repeats
    with other content is refused before anything is written."""
    store = IndexStore(tmp_path / "dup")
    base = pd.DataFrame(
        [("r", f"p{i}.py", "c1", "py", f"alpha beta{i}") for i in range(4)],
        columns=[*KEY, "lang", "content"],
    )
    build_index(spark, spark.createDataFrame(base), store, docs_per_shard=4)
    twice = pd.DataFrame(
        [("r", "new.py", "c1", "py", "zeta alpha")] * 2, columns=base.columns
    )
    add_documents(spark, store, spark.createDataFrame(twice))
    assert _last_arm(store) == commit_arm
    eng = SearchEngine(spark, store)
    dm = eng.doc_map.toPandas()
    assert len(dm) == 5 and dm["doc_id"].is_unique
    assert int(dm.loc[dm["path"] == "new.py", "doclen"].iloc[0]) == 2
    terms = eng.terms.toPandas().set_index("term")
    assert terms.loc["zeta", "df"] == 1 and terms.loc["alpha", "df"] == 5
    assert eng._stats_row["n_docs"] == 5
    assert verify_consistency(spark, store) == ZEROS

    gen = store.current_gen()
    clash = twice.assign(path="other.py")
    clash.loc[1, "content"] = "eta"
    with pytest.raises(ValueError, match="other.py"):
        add_documents(spark, store, spark.createDataFrame(clash))
    assert store.current_gen() == gen
    assert sorted(p.name for p in store.root.glob("gen-*"))[-1] == gen


def test_verify_consistency_counts_duplicate_docs(spark, tmp_path):
    store = IndexStore(tmp_path / "dupcheck")
    base = pd.DataFrame(
        [("r", f"p{i}.py", "c1", "py", f"alpha beta{i}") for i in range(4)],
        columns=[*KEY, "lang", "content"],
    )
    build_index(spark, spark.createDataFrame(base), store, docs_per_shard=4)
    path = store.table_path("doc_map", store.current_gen())
    dm = spark.read.parquet(path).toPandas()
    # one row repeated whole (doc_id and key), one key under a second id
    bad = pd.concat(
        [dm, dm.iloc[[0]], dm.iloc[[1]].assign(doc_id=9)], ignore_index=True
    )
    spark.createDataFrame(bad, schema=spark.read.parquet(path).schema) \
        .write.mode("overwrite").parquet(path + ".tmp")
    shutil.rmtree(path)
    shutil.move(path + ".tmp", path)
    report = verify_consistency(spark, store)
    assert report["duplicate_docs"] == 1 + 2


def _tables(store: IndexStore, gen: str) -> dict:
    """Every published table of ``gen`` as (names and Arrow types, sorted
    rows), plus its ``_meta.json`` and root-relative ``_refs.json``."""
    out = {}
    for name in TABLES:
        path = Path(store.table_path(name, gen))
        if not path.exists():
            out[name] = None
            continue
        table = ds.dataset(str(path), format="parquet").to_table()
        out[name] = (
            [(f.name, f.type) for f in table.schema],
            sorted((tuple(r.values()) for r in table.to_pylist()), key=repr),
        )
    root = store.root / gen
    out["_meta"] = json.loads((root / "_meta.json").read_text())
    refs = root / "_refs.json"
    out["_refs"] = (
        refs.read_text().replace(str(store.root), "ROOT")
        if refs.exists() else None
    )
    return out


@pytest.mark.parametrize("analyzer,positions", [
    ("standard", False), ("code", True),
])
def test_arms_publish_identical_tables(
    spark, tmp_path, monkeypatch, analyzer, positions
):
    docs = _docs(spark, 160, seed=5, unicode_every=3 if analyzer == "code" else 0)
    base, pool = docs.iloc[:100], docs.iloc[100:]
    driver = IndexStore(tmp_path / "driver")
    build_index(
        spark, spark.createDataFrame(base), driver, docs_per_shard=32,
        with_positions=positions, analyzer=analyzer,
    )
    shutil.copytree(driver.root, tmp_path / "spark")
    stores = {"driver": driver, "spark": IndexStore(tmp_path / "spark")}

    def keys(pdf):
        return spark.createDataFrame(pdf[KEY])

    unknown = pd.DataFrame([("zz", "zz.py", "c0")], columns=KEY)
    history = [
        ("add", pool.iloc[:20]),          # into the tail shard
        ("remove", base.iloc[10:30]),     # retire ids into the free list
        ("add", pool.iloc[20:30]),        # reuse free ids
        ("remove", unknown),              # keys that match nothing
        ("add", pool.iloc[:10]),          # only known docs: nothing new
        ("add", pool.iloc[30:60]),        # free ids, then new shards
        ("remove", pd.concat([base, pool.iloc[:60]])),  # remove all
        ("add", base.iloc[:15]),          # mint from scratch again
    ]
    for step, (op, rows) in enumerate(history):
        for arm, store in stores.items():
            with monkeypatch.context() as m:
                if arm == "spark":
                    m.setattr(incremental, "fits_driver_commit", lambda *a: False)
                if op == "add":
                    add_documents(spark, store, spark.createDataFrame(rows))
                else:
                    remove_documents(spark, store, keys(rows))
            assert _last_arm(store) == arm
        got = {arm: _tables(s, s.current_gen()) for arm, s in stores.items()}
        for name in got["driver"]:
            assert got["driver"][name] == got["spark"][name], (step, op, name)
        for store in stores.values():
            assert verify_consistency(spark, store) == ZEROS, (step, op)
    answers = {
        arm: SearchEngine(spark, s).search("import def", k=5).collect()
        for arm, s in stores.items()
    }
    assert answers["driver"] == answers["spark"]
    for store in stores.values():
        compact(spark, store)
    got = {arm: _tables(s, s.current_gen()) for arm, s in stores.items()}
    assert got["driver"] == got["spark"]


def test_small_commits_run_at_most_one_spark_job(spark, tmp_path):
    docs = _docs(spark, 80, seed=9)
    store = IndexStore(tmp_path / "jobs")
    build_index(
        spark, spark.createDataFrame(docs.iloc[:60]), store, docs_per_shard=32
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    adds = spark.createDataFrame(docs.iloc[60:])
    victims = spark.createDataFrame(docs.iloc[:10][KEY])
    for op, fn, frame in (
        ("add", add_documents, adds), ("remove", remove_documents, victims)
    ):
        group = f"commit-{op}-{time.time_ns()}"
        sc.setJobGroup(group, f"small {op}")
        try:
            fn(spark, store, frame)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert _last_arm(store) == "driver"
        assert len(tracker.getJobIdsForGroup(group)) <= 1, op
    assert verify_consistency(spark, store) == ZEROS


def test_spark_add_publishes_no_scratch_ids(spark, tmp_path, spark_commit_arm):
    """The Spark arm's ADD mints ids into a scratch table; the published
    generation does not carry it, on a real ADD or a nothing-new one."""
    docs = _docs(spark, 40, seed=13)
    store = IndexStore(tmp_path / "ids")
    build_index(
        spark, spark.createDataFrame(docs.iloc[:30]), store, docs_per_shard=16
    )
    for rows in (docs.iloc[30:], docs.iloc[30:]):  # new, then nothing new
        gen = add_documents(spark, store, spark.createDataFrame(rows))
        assert _last_arm(store) == "spark"
        assert not (store.root / gen / "ids").exists()
        assert verify_consistency(spark, store) == ZEROS
    added = [e["n_added"] for e in store.lineage() if "n_added" in e]
    assert added == [10, 0]


def test_fits_driver_commit_boundary():
    # KB = (docs + terms) / 3 + (20 per batch row + 16 per affected doc),
    # the second part doubled on a positional index
    fits, kb = incremental.fits_driver_commit, incremental.commit_kb
    assert kb(12_000, 20_785, 200, 3_808, False) == 10_928 + 4_000 + 60_928
    assert kb(12_000, 20_785, 200, 3_808, True) == 10_928 + 2 * 64_928
    bound = incremental.DRIVER_KB
    assert fits(0, 0, 0, 0, False)
    assert fits(0, 0, 0, bound // 16, False)
    assert not fits(0, 0, 0, bound // 16 + 1, False)
    assert not fits(0, 0, 0, bound // 32 + 1, True)
    assert fits(3 * bound, 0, 0, 0, False)
    assert not fits(3 * bound + 3, 0, 0, 0, False)
    assert not fits(0, 3 * bound + 3, 0, 0, False)
    # the collect limit is the rule's own: one more row is refused
    for n_docs, n_terms, wp in ((0, 0, False), (96_000, 26_395, True)):
        rows = incremental.max_driver_rows(n_docs, n_terms, wp)
        assert fits(n_docs, n_terms, rows, 0, wp)
        assert not fits(n_docs, n_terms, rows + 1, 0, wp)
    # the measured extremes: admitted ADD 24,000 on 12k docs, refused
    # REMOVE spread over all 12 shards of 96k docs
    assert fits(12_000, 20_785, 24_000, 3_808, False)
    assert not fits(96_000, 26_395, 4_800, 96_000, False)
