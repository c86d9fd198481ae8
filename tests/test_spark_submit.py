"""The north rule's deployment contract: the complete system runs via
``spark-submit --py-files`` on a multi-executor cluster.

This test packages the library into a --py-files zip, stands up a REAL
standalone cluster (master + worker + 2 executor JVMs), submits
jobs/build_submit.py against it, and verifies the published index from a
separate reader session: consistency zeros, and the smoke query's top-k
matching the pure-numpy oracle exactly (rank + doc_ids + scores at 6dp).

Reference analogue: the reference's batch entry point is a CLI driver too
(update/StrucmotifUpdate.java:73-75); this is the cluster-native equivalent.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

from strucmotif_search_spark.build import IndexStore
from strucmotif_search_spark.cluster import SPARK_HOME, StandaloneCluster
from strucmotif_search_spark.corpus import generate_corpus
from strucmotif_search_spark.oracle import build_oracle, bm25_topk
from strucmotif_search_spark.streaming.incremental import verify_consistency

SPARK_SUBMIT = os.path.join(SPARK_HOME, "bin", "spark-submit")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pyfiles_multi_executor(spark, tmp_path):
    src = str(tmp_path / "corpus")
    docs = generate_corpus(spark, 300, seed=7, partitions=4)
    docs.write.mode("overwrite").parquet(src)

    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        from make_pyfiles import make_pyfiles_zip
    finally:
        sys.path.pop(0)

    zip_path = make_pyfiles_zip(str(tmp_path / "smsp.zip"))
    index_root = str(tmp_path / "index")
    query = "value table merge"

    with StandaloneCluster(cores=4, memory="4g") as cluster:
        env = dict(
            os.environ,
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
        )
        # the library must reach driver AND executors through --py-files
        # alone — scrub any repo path the test session exported
        env.pop("PYTHONPATH", None)
        proc = subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", cluster.master_url,
                "--py-files", zip_path,
                # 2 executors x 2 cores: the multi-executor shape the rule
                # names (scaled down for CI; bench.py runs 1-vs-4 executors)
                "--conf", "spark.cores.max=4",
                "--conf", "spark.executor.cores=2",
                "--conf", "spark.executor.memory=1g",
                "--conf", "spark.driver.memory=1g",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.scheduler.minRegisteredResourcesRatio=1.0",
                "--conf", "spark.ui.enabled=false",
                os.path.join(REPO, "jobs", "build_submit.py"),
                "--source", src,
                "--index-root", index_root,
                "--docs-per-shard", "64",
                "--query", query,
                "--k", "10",
            ],
            env=env,
            cwd=str(tmp_path),  # NOT the repo: imports must come from the zip
            capture_output=True,
            text=True,
            timeout=540,
        )
        assert proc.returncode == 0, (
            f"spark-submit failed\nstdout:\n{proc.stdout[-4000:]}\n"
            f"stderr:\n{proc.stderr[-4000:]}"
        )

    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["n_docs"] == 300
    assert out["gen"].startswith("gen-")
    # the submitted app really ran on the standalone master, not local[*]
    assert out["master"].startswith("spark://")

    # read the published index back from an independent session
    store = IndexStore(index_root)
    assert store.current_gen() == out["gen"]
    assert verify_consistency(spark, store) == {
        "orphan_doc_ids": 0,
        "inconsistent_terms": 0,
        "duplicate_docs": 0,
    }

    # top-k parity with the pure-numpy oracle (rank-identical, scores @6dp)
    rows = docs.select("repo", "path", "commit", "lang", "content").collect()
    doc_map = {
        r2["doc_id"]: r2
        for r2 in store.read_table(spark, "doc_map").collect()
    }
    by_key = {
        (r["repo"], r["path"], r["commit"]): r["content"] for r in rows
    }
    ids = sorted(doc_map)
    texts = [
        by_key[(doc_map[i]["repo"], doc_map[i]["path"], doc_map[i]["commit"])]
        for i in ids
    ]
    expected = bm25_topk(build_oracle(ids, texts), query, k=10)
    got = [(h["doc_id"], h["score"]) for h in out["hits"]]
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (_, a), (_, b) in zip(got, expected):
        assert abs(a - b) < 1e-6


def test_update_submit_operation_chain(spark, tmp_path):
    """The maintenance CLI (jobs/update_submit.py, reference Operation.java
    shape): ADD -> DELETE -> COMPACT -> EXPIRE -> RECOVER chained through
    spark-submit, library imported from --py-files, index built in-process
    first (build path covered by the cluster test above)."""
    from strucmotif_search_spark.build import build_index

    src_delta = str(tmp_path / "delta")
    docs = generate_corpus(spark, 200, seed=21, partitions=4)
    delta = generate_corpus(spark, 50, seed=22, partitions=2)
    delta.write.mode("overwrite").parquet(src_delta)

    index_root = str(tmp_path / "index_upd")
    build_index(
        spark, docs, IndexStore(index_root), docs_per_shard=64,
    )

    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        from make_pyfiles import make_pyfiles_zip
    finally:
        sys.path.pop(0)
    zip_path = make_pyfiles_zip(str(tmp_path / "smsp_upd.zip"))

    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("PYTHONPATH", None)

    def run(op, *extra):
        proc = subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", "local[2]",
                "--py-files", zip_path,
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.driver.memory=1g",
                os.path.join(REPO, "jobs", "update_submit.py"),
                op, "--index-root", index_root, *extra,
            ],
            env=env, cwd=str(tmp_path), capture_output=True, text=True,
            timeout=300,
        )
        assert proc.returncode == 0, (
            f"{op} failed\nstdout:\n{proc.stdout[-3000:]}\n"
            f"stderr:\n{proc.stderr[-3000:]}"
        )
        return json.loads(proc.stdout.strip().splitlines()[-1])

    out = run("ADD", "--source", src_delta)
    assert out["gen"].startswith("gen-")
    out = run("DELETE", "--query", "import")  # head term: deletes many docs
    gen_del = out["gen"]
    out = run("COMPACT")
    assert out["gen"] > gen_del
    out = run("EXPIRE")
    assert out["removed"]  # pre-compact generations reclaimed
    out = run("RECOVER")
    assert out["healthy"] and out["report"] == {
        "orphan_doc_ids": 0, "inconsistent_terms": 0, "duplicate_docs": 0,
    }

    # deleted term really is gone from the surviving corpus
    store = IndexStore(index_root)
    from strucmotif_search_spark.engine import SearchEngine

    eng = SearchEngine(spark, store)
    assert eng.search("import", k=5, with_meta=False).count() == 0


def test_query_submit_cli(spark, tmp_path):
    """The read-side CLI (jobs/query_submit.py): SEARCH, BOOL, time-travel
    --as-of and CHANGELOG through spark-submit, results parsed from the
    single JSON stdout line and checked against in-process engines."""
    from strucmotif_search_spark.build import build_index
    from strucmotif_search_spark.engine import SearchEngine
    from strucmotif_search_spark.streaming.incremental import add_documents

    docs = generate_corpus(spark, 200, seed=31, partitions=4)
    delta = generate_corpus(spark, 40, seed=32, partitions=2)
    index_root = str(tmp_path / "index_q")
    store = IndexStore(index_root)
    build_index(
        spark, docs, store, docs_per_shard=64,
    )
    base_gen = store.current_gen()
    add_documents(spark, store, delta)

    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        from make_pyfiles import make_pyfiles_zip
    finally:
        sys.path.pop(0)
    zip_path = make_pyfiles_zip(str(tmp_path / "smsp_q.zip"))
    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("PYTHONPATH", None)

    def run(*args):
        proc = subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", "local[2]",
                "--py-files", zip_path,
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.driver.memory=1g",
                os.path.join(REPO, "jobs", "query_submit.py"),
                *args, "--index-root", index_root,
            ],
            env=env, cwd=str(tmp_path), capture_output=True, text=True,
            timeout=300,
        )
        assert proc.returncode == 0, (
            f"query_submit failed\nstdout:\n{proc.stdout[-3000:]}\n"
            f"stderr:\n{proc.stderr[-3000:]}"
        )
        return json.loads(proc.stdout.strip().splitlines()[-1])

    # SEARCH against CURRENT == in-process engine
    out = run("SEARCH", "--query", "import def", "--k", "5")
    eng = SearchEngine(spark, store)
    exp = [
        (r["doc_id"], r["score"])
        for r in eng.search("import def", k=5, with_meta=False).collect()
    ]
    assert [(r["doc_id"], r["score"]) for r in out["rows"]] == exp
    assert out["gen"] == store.current_gen()

    # time travel through the CLI == in-process pinned engine
    out = run("SEARCH", "--query", "import def", "--k", "5",
              "--as-of", base_gen)
    pinned = SearchEngine(spark, store, gen=base_gen)
    exp = [
        (r["doc_id"], r["score"])
        for r in pinned.search("import def", k=5, with_meta=False).collect()
    ]
    assert [(r["doc_id"], r["score"]) for r in out["rows"]] == exp
    assert out["gen"] == base_gen

    # BOOL: nested expression with a negated subtree
    out = run("BOOL", "--query", "(import AND def) OR (for NOT import)",
              "--k", "5")
    exp = [
        (r["doc_id"], r["score"])
        for r in eng.bool_search(
            "(import AND def) OR (for NOT import)", k=5
        ).collect()
    ]
    assert [(r["doc_id"], r["score"]) for r in out["rows"]] == exp

    # CHANGELOG base -> CURRENT: exactly the genuinely-new delta keys
    # (delta-plus = requested - known; overlapping natural keys are no-ops)
    n_new = delta.join(
        docs, on=["repo", "path", "commit"], how="left_anti"
    ).count()
    out = run("CHANGELOG", "--from-gen", base_gen)
    assert out["n_rows"] == n_new > 0
    assert {r["op"] for r in out["rows"]} == {"add"}

    # SUGGEST: prefix completions + corrections in one response
    from strucmotif_search_spark.query.analytics import (
        suggest_corrections,
        suggest_terms,
    )

    out = run("SUGGEST", "--query", "im", "--k", "5")
    kinds = {r["suggestion_kind"] for r in out["rows"]}
    assert "prefix" in kinds
    exp_terms = {r["term"] for r in suggest_terms(eng, "im", n=5).collect()}
    got_prefix = {
        r["term"] for r in out["rows"] if r["suggestion_kind"] == "prefix"
    }
    assert got_prefix == exp_terms

    # MLT: probe text ranked against the corpus == in-process call
    from strucmotif_search_spark.query.analytics import more_like_this

    probe = "import def for return"
    out = run("MLT", "--query", probe, "--k", "5")
    exp = [
        (r["doc_id"], r["score"])
        for r in more_like_this(eng, probe, k=5).collect()
    ]
    assert [(r["doc_id"], r["score"]) for r in out["rows"]] == exp

    # HYBRID: embeddings parquet + qvec doc; CLI == in-process fusion
    import numpy as np

    rng = np.random.default_rng(7)
    ids = [r["doc_id"] for r in eng.doc_map.select("doc_id").collect()]
    emb_rows = [
        (int(d), [float(x) for x in rng.standard_normal(8)]) for d in ids
    ]
    emb = spark.createDataFrame(
        emb_rows, "doc_id long, embedding array<double>"
    )
    emb_path = str(tmp_path / "emb_q")
    emb.write.mode("overwrite").parquet(emb_path)
    qvec = dict(emb_rows)[ids[0]]
    out = run(
        "HYBRID", "--query", "import def", "--k", "5",
        "--embeddings", emb_path, "--qvec-doc-id", str(ids[0]),
    )
    exp = [
        (r["doc_id"], round(r["rrf"], 9))
        for r in eng.hybrid_search(
            "import def", spark.read.parquet(emb_path), qvec, k=5,
            with_meta=False,
        ).collect()
    ]
    assert [(r["doc_id"], round(r["rrf"], 9)) for r in out["rows"]] == exp
