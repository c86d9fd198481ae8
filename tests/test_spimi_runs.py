"""Map-side SPIMI packed runs (round-3 build layout).

The fused build's map output is one varint-packed row per (shard, term) per
Arrow batch plus packed per-shard doc-metadata rows — postings never exist
as individual rows anywhere in the build.  These tests pin the layout's
correctness against the posting-row reference kernel
(`tokenizer.term_frequencies`) and the block packer run over its sorted
rows (`postings._pack_runs`): same postings, same doclens/sha,
byte-identical published blocks.

Reference analogue: per-thread partial posting files
(update/Context.java:50-73) merged by commit
(io/DefaultInvertedIndex.java:120-239).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from strucmotif_search_spark.build.norms import (
    build_norms,
    build_norms_from_doc_runs,
)
from strucmotif_search_spark.build.postings import (
    _pack_runs,
    pack_posting_runs,
)
from strucmotif_search_spark.corpus import generate_corpus
from strucmotif_search_spark.tokenizer import (
    decode_doc_meta,
    packed_term_runs,
    term_frequencies,
)

DOCS_PER_SHARD = 64


@pytest.fixture(scope="module")
def docs(spark):
    d = generate_corpus(spark, 400, seed=11, partitions=4)
    # deterministic doc ids without the full rank machinery: row_number over
    # the natural key (small fixture — single partition window is fine)
    from pyspark.sql import Window

    w = Window.orderBy("repo", "path", "commit")
    return (
        d.withColumn("doc_id", F.row_number().over(w).cast("long") - 1)
        .persist()
    )


def test_runs_match_posting_rows(spark, docs):
    runs = packed_term_runs(docs, docs_per_shard=DOCS_PER_SHARD)
    term_rows = runs.where(F.col("term") != "")
    ref = term_frequencies(docs)
    got = term_rows.agg(
        F.sum("n_docs").alias("n"), F.sum("sum_tf").alias("cf")
    ).first()
    exp = ref.agg(F.count("*").alias("n"), F.sum("tf").alias("cf")).first()
    assert (got["n"], got["cf"]) == (exp["n"], exp["cf"])
    # per-term df/cf parity (the terms-stage aggregate)
    a = (
        term_rows.groupBy("term")
        .agg(F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("cf"))
        .toPandas().sort_values("term").reset_index(drop=True)
    )
    b = (
        ref.groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        .toPandas().sort_values("term").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_doc_meta_roundtrip(spark, docs):
    runs = packed_term_runs(docs, docs_per_shard=DOCS_PER_SHARD)
    meta = decode_doc_meta(runs.where(F.col("term") == "")).toPandas()
    assert len(meta) == docs.count()
    ref = docs.select(
        "doc_id",
        F.sha2("content", 256).alias("sha"),
    ).toPandas()
    j = meta.merge(ref, on="doc_id")
    assert (j["content_sha256"] == j["sha"]).all()
    # doclens equal the posting-row doclen aggregate
    dl_ref = (
        term_frequencies(docs).groupBy("doc_id")
        .agg(F.sum("tf").alias("dl")).toPandas()
    )
    j2 = meta.merge(dl_ref, on="doc_id", how="left").fillna({"dl": 0})
    assert (j2["doclen"] == j2["dl"]).all()


@pytest.mark.parametrize("with_positions", [False, True])
def test_packed_blocks_byte_identical(spark, docs, with_positions):
    """pack_posting_runs over the runs layout must produce byte-identical
    blocks to the block packer over the equivalent posting rows, sorted by
    (shard, term_id, doc_id) (the published index format is the contract —
    readers never know which path built it)."""
    runs = packed_term_runs(
        docs, docs_per_shard=DOCS_PER_SHARD, with_positions=with_positions
    )
    tf = term_frequencies(docs, with_positions=with_positions).toPandas()
    # same dictionary for both paths
    terms = tf["term"].drop_duplicates().sort_values().reset_index(drop=True)
    dict_pdf = pd.DataFrame({"term": terms, "term_id": np.arange(len(terms))})
    dict_df = F.broadcast(spark.createDataFrame(dict_pdf))

    run_cols = ["shard", "term_id", "first_doc", "n_docs", "doc_deltas",
                "tfs"] + (["pos_data"] if with_positions else [])
    blocks_a = pack_posting_runs(
        runs.where(F.col("term") != "").join(dict_df, on="term")
        .select(*run_cols),
        with_positions=with_positions, presorted=False, partitions=4,
    ).toPandas()
    rows = tf.merge(dict_pdf, on="term").assign(
        shard=lambda r: (r["doc_id"] // DOCS_PER_SHARD).astype(np.int32)
    ).sort_values(["shard", "term_id", "doc_id"], ignore_index=True)
    blocks_b = _pack_runs(
        rows["shard"].to_numpy(), rows["term_id"].to_numpy(),
        rows["doc_id"].to_numpy(), rows["tf"].to_numpy(),
        positions=np.concatenate(rows["positions"].to_numpy()).astype(np.int64)
        if with_positions else None,
    )
    key = ["shard", "term_id", "block_id"]
    a = blocks_a.sort_values(key).reset_index(drop=True)
    b = blocks_b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_norms_from_doc_runs_byte_identical(spark, docs):
    """build_norms_from_doc_runs over the packed doc-metadata rows writes
    the same norms rows, byte for byte, as build_norms over the doc_map
    those documents would have."""
    doc_map = (
        docs.select("doc_id")
        .join(
            term_frequencies(docs).groupBy("doc_id")
            .agg(F.sum("tf").alias("doclen")),
            on="doc_id", how="left",
        )
        .fillna({"doclen": 0})
        .withColumn("shard", (F.col("doc_id") / DOCS_PER_SHARD).cast("int"))
    )
    runs = packed_term_runs(docs, docs_per_shard=DOCS_PER_SHARD)
    got = (
        build_norms_from_doc_runs(runs.where(F.col("term") == ""))
        .toPandas().sort_values("shard").reset_index(drop=True)
    )
    want = (
        build_norms(doc_map).toPandas()
        .sort_values("shard").reset_index(drop=True)
    )
    assert len(want) == -(-docs.count() // DOCS_PER_SHARD)
    pd.testing.assert_frame_equal(got, want)


def test_tokenless_docs_carry_meta_only(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "content": ["", "   \n\t ", "real token_here"],
        }
    )
    docs = spark.createDataFrame(pdf)
    runs = packed_term_runs(docs, docs_per_shard=2)
    meta = (
        decode_doc_meta(runs.where(F.col("term") == ""))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert list(meta["doc_id"]) == [0, 1, 2]
    assert list(meta["doclen"]) == [0, 0, 2]
    assert runs.where(F.col("term") != "").count() > 0
