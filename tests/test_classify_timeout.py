"""Entry-point-2 (classify docs vs stored query library) + query-timeout
tests — analogues of MotifIntegrationTest and QueryTimeoutTest."""

import math
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from strucmotif_search_spark import BM25_B, BM25_K1
from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.corpus import generate_corpus
from strucmotif_search_spark.engine import SearchEngine, collect_with_timeout
from strucmotif_search_spark.oracle import tokenize


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    store = IndexStore(tmp_path_factory.mktemp("cls"))
    docs = generate_corpus(spark, 300, seed=31, partitions=4)
    build_index(spark, docs, store, docs_per_shard=64)
    return SearchEngine(spark, store)


def test_classify_against_library(engine, spark):
    new_docs = spark.createDataFrame(
        [
            (1000, "import v_00001 v_00002 something"),
            (1001, "return return return v_00050"),
            (1002, "no library words here zqx"),
        ],
        "doc_id long, content string",
    )
    library = {
        "imports": "import",
        "pair": "v_00001 v_00002",
        "returns": "return",
    }
    got = engine.classify(new_docs, library, mode="and").collect()
    pairs = {(r["doc_id"], r["query_id"]) for r in got}
    assert (1000, "imports") in pairs
    assert (1000, "pair") in pairs
    assert (1001, "returns") in pairs
    assert not any(d == 1002 for d, _ in pairs)
    # scores use the ENGINE's global stats (hand-check one)
    st = engine._stats_row
    df_import = {
        r["term"]: r["df"]
        for r in engine.terms.where(F.col("term") == "import").collect()
    }["import"]
    doclen = len(tokenize("import v_00001 v_00002 something"))
    w = math.log((st["n_docs"] - df_import + 0.5) / (df_import + 0.5) + 1.0)
    expected = w * 1.0 * (BM25_K1 + 1.0) / (
        1.0 + BM25_K1 * (1.0 - BM25_B + BM25_B * doclen / st["avgdl"])
    )
    got_score = {(r["doc_id"], r["query_id"]): r["score"] for r in got}[
        (1000, "imports")
    ]
    assert got_score == pytest.approx(expected, abs=1e-12)


def test_or_mode_partial_match(engine, spark):
    new_docs = spark.createDataFrame(
        [(1, "v_00001 only")], "doc_id long, content string"
    )
    lib = {"pair": "v_00001 v_00002"}
    assert engine.classify(new_docs, lib, mode="and").count() == 0
    hits = engine.classify(new_docs, lib, mode="or").collect()
    assert len(hits) == 1 and hits[0]["n_matched"] == 1


def test_timeout_cancels_long_job(engine, spark):
    def slow(it):
        for pdf in it:
            time.sleep(30)
            yield pdf

    df = spark.range(8).repartition(8).mapInPandas(slow, "id long")
    t0 = time.time()
    with pytest.raises(TimeoutError):
        collect_with_timeout(spark, df.collect, timeout_s=3)
    assert time.time() - t0 < 25  # cancelled well before the sleeps finish


def test_timeout_passthrough_on_fast_query(engine):
    rows = engine.search_with_timeout("import", timeout_s=60, k=5)
    assert len(rows) == 5
