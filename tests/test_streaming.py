"""Structured Streaming ingest + windowed aggregation tests.

Streaming ADD mirrors the reference's commit-interval protocol
(StrucmotifUpdate.java:195-221): each micro-batch ends in one atomic index
commit; re-delivered documents are no-ops (delta-plus anti-join)."""

import time

import pytest
from pyspark.sql import functions as F

from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.corpus import generate_corpus
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.streaming.incremental import verify_consistency
from strucmotif_search_spark.streaming.stream_ingest import (
    ingest_stream,
    windowed_event_counts,
)

N_BASE, N_STREAM = 120, 80


def test_stream_ingest_available_now(spark, tmp_path_factory):
    base_dir = tmp_path_factory.mktemp("stream")
    src = str(base_dir / "incoming")
    ckpt = str(base_dir / "ckpt")
    full = generate_corpus(spark, N_BASE + N_STREAM, seed=11, partitions=4).cache()
    keys = full.select("repo", "path", "commit").orderBy("repo", "path", "commit")
    head = keys.limit(N_BASE)
    base = full.join(head, on=["repo", "path", "commit"], how="left_semi")
    late = full.join(head, on=["repo", "path", "commit"], how="left_anti")

    store = IndexStore(base_dir / "index")
    build_index(spark, base, store, docs_per_shard=64)

    # drop the stream files (several, so multiple micro-batches can form)
    late.repartition(4).write.mode("overwrite").parquet(src)
    q = ingest_stream(spark, store, src, ckpt, available_now=True)
    q.awaitTermination(120)
    assert not q.isActive

    eng = SearchEngine(spark, store)
    assert eng.doc_map.count() == N_BASE + N_STREAM
    assert verify_consistency(spark, store) == {
        "orphan_doc_ids": 0,
        "inconsistent_terms": 0,
    }

    # restart over the same source: offsets consumed, nothing re-added
    gen_before = store.current_gen()
    q2 = ingest_stream(spark, store, src, ckpt, available_now=True)
    q2.awaitTermination(60)
    eng2 = SearchEngine(spark, store)
    assert eng2.doc_map.count() == N_BASE + N_STREAM
    _ = gen_before  # offsets prevented duplicate ADD of the same files


def test_windowed_event_counts_matches_batch_oracle(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = windowed_event_counts(events, window="1 hour").orderBy(
        "window_start", "event_type"
    )
    expected = (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .orderBy("window_start", "event_type")
    )
    g = [(r["window_start"], r["event_type"], r["n_events"]) for r in got.collect()]
    e = [
        (r["window_start"], r["event_type"], r["n_events"])
        for r in expected.collect()
    ]
    assert g == e


def test_windowed_streaming_with_watermark(spark, tmp_path_factory):
    """Drive the SAME aggregation through readStream to prove the streaming
    plan is valid (watermark + append-mode windowed agg)."""
    d = tmp_path_factory.mktemp("ev")
    src, out, ckpt = str(d / "src"), str(d / "out"), str(d / "ckpt")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # append mode emits only windows older than the watermark; every emitted
    # row must match the batch computation exactly
    batch = windowed_event_counts(events, window="1 hour")
    joined = got.join(
        batch.withColumnRenamed("n_events", "n2").withColumnRenamed(
            "sum_value", "s2"
        ),
        on=["window_start", "event_type"],
    )
    assert joined.where(F.col("n_events") != F.col("n2")).count() == 0
    assert got.count() > 0


def test_streaming_exact_dedup_and_canonical_map(spark, tmp_path_factory):
    """Streaming dedup twins: dropDuplicatesWithinWatermark survivors and
    the stateful canonical mapping, fed the same two micro-batches; state
    carries across batches (a batch-2 copy of batch-1 content dedups)."""
    import pandas as pd
    from strucmotif_search_spark.streaming.dedup_stream import (
        canonical_map_stream,
        exact_dedup_stream,
    )

    base = tmp_path_factory.mktemp("sdedup")
    src = str(base / "in")
    rows1 = [
        (0, "alpha beta", "2026-01-01 00:00:00"),
        (1, "gamma delta", "2026-01-01 00:00:01"),
        (2, "alpha beta", "2026-01-01 00:00:02"),   # in-batch dup of 0
    ]
    rows2 = [
        (3, "alpha beta", "2026-01-01 00:10:00"),   # cross-batch dup of 0
        (4, "epsilon", "2026-01-01 00:10:01"),
    ]
    schema = "doc_id long, text string, ts string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(src + "/b2")
    stream = (
        spark.readStream.schema("doc_id long, text string, ts string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )

    # built-in survivor path
    q = (
        exact_dedup_stream(stream, watermark="1 hour")
        .writeStream.format("memory").queryName("sded")
        .option("checkpointLocation", str(base / "ck1"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    surv = {r["doc_id"] for r in spark.sql("SELECT * FROM sded").collect()}
    assert 1 in surv and 4 in surv
    # exactly one survivor of the 'alpha beta' trio, and it is doc 0 unless
    # batch boundaries reordered arrival (availableNow preserves file order)
    assert len(surv & {0, 2, 3}) == 1

    # stateful canonical-mapping path
    q2 = (
        canonical_map_stream(stream)
        .writeStream.format("memory").queryName("scanon")
        .outputMode("append")
        .option("checkpointLocation", str(base / "ck2"))
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    got = {
        r["doc_id"]: (r["canonical_id"], r["is_first"])
        for r in spark.sql("SELECT * FROM scanon").collect()
    }
    assert got[0] == (0, True)
    assert got[2] == (0, False)      # in-batch dup
    assert got[3] == (0, False)      # cross-batch dup via state store
    assert got[1] == (1, True) and got[4] == (4, True)


def test_classify_stream_matches_batch(spark, tmp_path_factory):
    """Streaming classification must emit exactly the batch operator's
    matches for the same documents, keyed by the feed's natural key."""
    from strucmotif_search_spark.query.classify import classify_documents
    from strucmotif_search_spark.streaming.classify_stream import (
        classify_stream,
    )

    base = tmp_path_factory.mktemp("sclassify")
    corpus = generate_corpus(spark, 150, seed=23, partitions=4).cache()
    store = IndexStore(base / "index")
    build_index(spark, corpus, store, docs_per_shard=64)
    eng = SearchEngine(spark, store)

    feed = generate_corpus(spark, 60, seed=77, partitions=3).cache()
    src, sink, ckpt = str(base / "src"), str(base / "sink"), str(base / "ck")
    feed.repartition(3).write.mode("overwrite").parquet(src)

    lib = {"q_a": "v_00000 v_00005", "q_b": "v_00010"}
    q = classify_stream(
        spark, eng, lib, src, sink, ckpt, mode="and", available_now=True
    )
    q.awaitTermination(120)
    assert not q.isActive

    got = {
        (r["doc_key"], r["query_id"]): (r["score"], r["n_matched"])
        for r in spark.read.parquet(sink).collect()
    }
    batch_docs = feed.select(
        F.col("path").alias("doc_key"), "content"
    ).withColumn("doc_id", F.monotonically_increasing_id())
    expected_df = classify_documents(
        eng, batch_docs.select("doc_id", "content"), lib, mode="and"
    ).join(batch_docs.select("doc_id", "doc_key"), on="doc_id")
    expected = {
        (r["doc_key"], r["query_id"]): (r["score"], r["n_matched"])
        for r in expected_df.collect()
    }
    assert got == expected and len(expected) > 0

    # restart over the same source: offsets consumed, sink unchanged
    q2 = classify_stream(
        spark, eng, lib, src, sink, ckpt, mode="and", available_now=True
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == len(expected)
