"""build_index — the SPIMI index build driver.

The reference's update pipeline (update/StrucmotifUpdate.java:191-245)
tokenizes documents, writes partial posting files, then merges them into
the production index under a dirty-list WAL with an atomic swap.  This
driver is the same protocol over DataFrames, with exactly two passes over
document content (the keys-only rank; the tokenize scan):

  stage rank      : doc_id = global sorted rank of (repo, path, commit)
  stage partials  : tokenize + map-side packed (shard, term) runs, shuffled
                    by shard into a scratch parquet spill (SPIMI stage 1)
  stage terms     : global exact term dictionary (df, cf, term_id)
  stage doc_map,  : doc dictionary, per-shard norms and corpus stats, all
        norms,      decoded from the spill's doc-metadata rows; they run
        stats       concurrently with pack
  stage pack      : join term_ids, merge each (shard, term_id) group's runs
                    into delta-gap varint blocks (SPIMI stage 2)
  stage commit    : flip CURRENT pointer (atomic publication)

Every stage transition is appended to the lineage WAL with metrics;
rerunning ``build_index`` with the same ``gen`` skips every stage already
logged ``done`` and reuses the spill while it exists, so a build killed
mid-merge resumes and produces an identical index (the RECOVER contract,
StrucmotifUpdate.java:532-546).  Stage outputs are overwrite-by-directory,
never append, so a replayed stage cannot double-count.
"""

from __future__ import annotations

import json
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..tokenizer import decode_doc_meta, packed_term_runs
from .ids import assign_sorted_rank
from .index_store import IndexStore
from .norms import build_norms_from_doc_runs
from .postings import pack_posting_runs

TERMS_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("term_id", LongType()),
        StructField("df", LongType()),
        StructField("cf", LongType()),
    ]
)

# Build-scoped read partitioning: one input FILE per scan partition.
# Spark's size-based file coalescing would pack the (deliberately
# pre-shuffled, pre-sorted) run spill into 1-2 partitions and serialize the
# packer at any core count; a huge per-file open cost makes every scan
# inside the build file-granular (the spill is written with exactly
# `shuffle.partitions` files, so pack parallelism == build parallelism).
# openCostInBytes prevents COALESCING spill files; maxPartitionBytes
# prevents SPLITTING them — a spill file larger than the default 128MB would
# be cut at row-group boundaries, breaking the one-bucket-file-per-pack-task
# write and block_id uniqueness on the presorted fast path.
# EQUAL pins matter: Spark's split target is
# min(maxPartitionBytes, max(openCostInBytes, totalBytes/cores)), and a
# partition packs files until size+openCost exceeds it.  With openCost
# below maxPartitionBytes the core-count term sneaks back in (measured: the
# 32-file spill read planned 8 tasks at 8 cores and 2 tasks at 2 cores — a
# skewed, core-dependent pack stage, wall = the fattest file group).
# openCost == maxPartitionBytes == 64 GiB closes every partition after
# exactly one file and still never splits one.  Pinned for the build window
# only — query paths want coalescing.
# NOTE on Arrow batch size: bigger batches would lengthen map-side SPIMI
# runs, but measured on this guest they HURT the many-executor leg — 8
# workers concurrently faulting fresh ~100 MB token buffers hit the same
# concurrent-fault collapse the bench gates against, while 2 workers sail.
# The default 10k-row batch is the right trade at both parallelism levels.
_BUILD_CONF = {
    "spark.sql.files.openCostInBytes": str(1 << 36),
    "spark.sql.files.maxPartitionBytes": str(1 << 36),  # 64 GiB
}

# Scratch-grade codec for the spill: it is deleted after pack, so
# compression buys no durable bytes — only CPU.  zstd (the session default
# for PUBLISHED tables) costs real compressor CPU per row, and that cost
# lands in the build's one big reduce stage where the multi-executor leg is
# already memory-bandwidth-tight: measured at 480k docs x 8 cores, snappy
# cut the spill stage enough to move the N->4N quotient (zstd stays right
# for durable tables, where bytes are read many times).
_SPILL_CODEC = "snappy"


@contextmanager
def _build_window(spark: SparkSession):
    """Pin ``_BUILD_CONF`` for the build; yield the list the build appends
    every DataFrame it persists to.  On exit, success or failure, release
    exactly those (no session-wide ``clearCache``: engines open in the same
    session keep their caches) and restore (or unset) each conf key."""
    old_conf: dict[str, str | None] = {}
    for key, val in _BUILD_CONF.items():
        try:
            old_conf[key] = spark.conf.get(key)
        except Exception:  # noqa: BLE001 — unset in this session
            old_conf[key] = None
        spark.conf.set(key, val)
    persisted: list[DataFrame] = []
    try:
        yield persisted
    finally:
        for df in persisted:
            df.unpersist()
        for key, old in old_conf.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def _parquet_rows(path: str) -> int:
    """Row count of a parquet table directory from its file footers — no
    Spark job, no payload read."""
    return sum(
        pq.read_metadata(f).num_rows for f in Path(path).glob("*.parquet")
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    store: IndexStore,
    docs_per_shard: int = 8192,
    content_col: str = "content",
    gen: str | None = None,
    with_positions: bool = False,
    analyzer: str = "standard",
) -> str:
    """Build (or resume building) a full index generation from a source table
    of shape (repo, path, commit, lang, content).  Returns the published gen.

    ``analyzer``: token pre-transform (tokenizer.ANALYZERS) — 'standard'
    (frozen contract) or 'code' (camelCase/snake_case subtoken split +
    casefold).  Recorded in the generation's _meta.json so the query layer
    and incremental updates replay the same analysis; the per-row
    content_sha256 invariant always hashes the RAW content.

    Pass ``gen`` to resume an interrupted build of that generation.

    Key plan choices for scale:
    - doc_id ranking runs on a keys-only projection, so the range-partition
      sampling and shuffle never decode ``content`` (column pruning does the
      work when the source is columnar);
    - ``doclen`` and the content digest come from the tokenize pass instead
      of a second pass over content;
    - the SPIMI stage-1 runs are spilled once as a scratch parquet and
      DELETED after the pack stage — the published generation contains
      only the durable tables.
    """
    t0 = time.time()
    if gen is None:
        gen = store.new_gen()
    store.log(gen=gen, stage="build", status="start")
    # The pool's exit waits for every side stage, on failure too: a failed
    # build never returns while its side stages still write into the
    # generation dir (a retry of the same gen would race them).
    with (
        _build_window(spark) as persisted,
        ThreadPoolExecutor(max_workers=4) as pool,
    ):
        # lang rides along (a few bytes/row) so doc_map never needs the source
        # table again; the rank shuffle still never touches content
        t_rank = time.time()
        ids, n_ids, arranged = assign_sorted_rank(
            docs.select("repo", "path", "commit", "lang"),
            ["repo", "path", "commit"], "doc_id",
            return_count=True, return_persisted=True,
        )
        persisted.append(arranged)
        # sub-stage lineage: the rank's eager jobs (range sampling + per-
        # partition counts) are part of the build's serial prefix — record them
        # separately from the big tokenize+spill job so scaling runs can see
        # which half of "partials" fails to scale
        store.log(gen=gen, stage="rank", status="done",
                  stage_wall_ms=int((time.time() - t_rank) * 1000))
        ids = ids.withColumn(
            "shard", (F.col("doc_id") / docs_per_shard).cast("int")
        )
        # Pin the (small, fixed-width) ids dictionary in block storage and make
        # the broadcast decision explicitly from the known row count — cheaper
        # than a parquet write + read-back round (one fewer job on the timed
        # path, no I/O), and the content join below must NOT shuffle document
        # text against an unsized in-flight plan.  At 10^12 docs the dictionary
        # exceeds broadcast size and the join falls back to shuffle; persist
        # spills to disk (MEMORY_AND_DISK default) and stays one pass.  No
        # eager count: n_ids came free with the rank's partition-count pass,
        # and the cache materializes inside the first job that scans it (the
        # tf spill's broadcast/join build) instead of paying its own job.
        ids = ids.persist()
        persisted.append(ids)
        # ~64 B/row (two short strings + md5 hex + 2 longs); broadcast under
        # the session's autoBroadcastJoinThreshold default (32 MB)
        ids_small = n_ids * 64 < 32 * 1024 * 1024
        ids_j = F.broadcast(ids) if ids_small else ids

        docs_keyed = docs.join(ids_j, on=["repo", "path", "commit"])
        # Map-side SPIMI runs: tokenize + per-(shard, term) varint run packing
        # happen INSIDE the content scan (one pass; sha256 fused JVM-side), so
        # postings never exist as individual rows anywhere in the build — the
        # one big exchange below moves packed runs (~10x fewer rows, ~5x fewer
        # bytes than posting rows), which is the scarce resource on a
        # multi-executor cluster.  Doc metadata (doclen, sha) rides the same
        # output as packed per-shard rows (term ''), so doc_map/norms/stats
        # need no posting-row aggregate either.  The shard is computed in the
        # kernel from doc_id — no 10^8-row dictionary join.
        tf = packed_term_runs(
            docs_keyed, docs_per_shard=docs_per_shard, content_col=content_col,
            with_positions=with_positions, analyzer=analyzer,
        )
        # Spill the SPIMI runs as parquet, SHUFFLED BY SHARD AND SORTED
        # (shard, term, first_doc) — the build's one big shuffle.  Downstream:
        # - the pack stage is map-only AND sort-free: parquet read-back of
        #   whole files preserves row order, term rank is monotonic in the term
        #   string so the sort survives the term_id join, and the packer only
        #   needs group contiguity (files hold disjoint shard sets).  The sort
        #   itself is over RUN rows (small), not postings; the per-group
        #   doc-order merge of interleaved runs happens in numpy inside the
        #   packer (sort-merge posting-list merge);
        # - a parquet round-trip beats a DISK_ONLY .persist() (columnar-cache
        #   serializer, re-read per job).
        # Partition count is pinned (see pack note below); at larger scale keep
        # spill files under spark.sql.files.maxPartitionBytes so read-back
        # never splits a file (a split could cut a (shard, term) group
        # mid-way).
        spill_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        tf_path = store.partials_path(gen)
        # RESUME: a crashed build left its lineage WAL and possibly the spill +
        # some published-stage tables behind.  Every stage with a terminal
        # 'done' event is skipped; everything else is an idempotent overwrite.
        # Correctness rests on determinism: ids are the exact global sort rank
        # (identical across runs at any parallelism), so a resumed run
        # recomputes identical inputs for the remaining stages.  The spill is
        # only reusable while it exists (it is deleted on successful commit).
        resumed = store.stage_done(gen, "partials") and Path(tf_path).exists()
        if resumed:
            store.log(gen=gen, stage="partials", status="resumed")
        else:
            tf.repartition(spill_parts, "shard").sortWithinPartitions(
                "shard", "term", "first_doc"
            ).write.mode("overwrite").option(
                "compression", _SPILL_CODEC
            ).parquet(tf_path)
        tf = spark.read.parquet(tf_path)
        if not resumed:
            # one narrow two-column scan of the spill: every posting lies in
            # exactly one term run, so the runs' n_docs sum to the posting
            # count
            n_postings = tf.where(F.col("term") != "").agg(
                F.sum("n_docs")
            ).first()[0]
            store.log(gen=gen, stage="partials", status="done",
                      n_postings=int(n_postings or 0))

        # Post-spill, the remaining stages form a shallow DAG over the run
        # spill + ids dictionary + one shared decoded doc-metadata table:
        #   terms  (run-row agg; pack depends on it — runs first, alone)
        #   doc_meta (decode of the spill's packed doc rows — one narrow
        #             mapInPandas over ~1 row per (shard, batch), persisted,
        #             shared 3 ways; replaces a posting-row doclen agg)
        #   then CONCURRENTLY (driver threads; FIFO scheduler backfills cores):
        #     pack    (the python packer — main thread)
        #     doc_map (ids ⋈ doc_meta)
        #     norms   (spill doc rows -> per-shard packed sidecar)
        #     stats   (n_docs from the ids count + one tiny doc_meta agg)
        # Build wall becomes spill + terms + max(pack, doc_map, norms, stats)
        # instead of the serial sum.  This matters twice at scale: the small
        # jobs fill cores the packer's stage tails leave idle (utilization
        # grows with executor count — the quantity the scaling criterion
        # measures), and per-job scheduling gaps overlap.  norms/stats read the
        # shared doc_meta instead of the finished doc_map table precisely to
        # break the serial chain.
        def _mk_doc_map() -> None:
            # narrow-only: digests + doclens decode from the spill's packed doc
            # rows, lang from the ids dictionary — NO second corpus scan
            ta = time.time()
            doc_map_df = (
                ids.join(doc_meta, on="doc_id", how="left")
                .select(
                    "doc_id", "repo", "path", "commit", "lang",
                    "content_sha256",
                    F.coalesce(F.col("doclen"), F.lit(0)).cast("long")
                    .alias("doclen"),
                    "shard",
                )
            )
            store.write_table(doc_map_df, "doc_map", gen)
            store.log(gen=gen, stage="doc_map", status="done",
                      stage_wall_ms=int((time.time() - ta) * 1000))

        def _mk_norms() -> None:
            ta = time.time()
            # norms merge straight from the spill's PACKED doc rows — the
            # shuffle moves a few varint rows per shard, never a row per doc.
            # Bucketed with the SAME bucket count as postings: the query
            # cogroup then sees both sides hash(shard)-clustered from the scan
            store.write_bucketed(
                build_norms_from_doc_runs(tf.where(F.col("term") == "")),
                "norms", gen, n_buckets=spill_parts,
                sort_cols=("shard",),
            )
            store.log(gen=gen, stage="norms", status="done",
                      stage_wall_ms=int((time.time() - ta) * 1000))

        def _mk_stats() -> None:
            # identical row to build_stats(doc_map): docs with zero tokens
            # count in n_docs and contribute doclen 0 (F7 imputation)
            ta = time.time()
            stats_df = doc_meta.agg(
                F.coalesce(F.sum("doclen"), F.lit(0)).alias("s")
            ).select(
                F.lit(n_ids).cast("long").alias("n_docs"),
                F.col("s").cast("long").alias("sum_doclen"),
                F.when(F.lit(n_ids) > 0, F.col("s") / F.lit(n_ids))
                .cast("double").alias("avgdl"),
            )
            store.write_table(stats_df, "stats", gen)
            store.log(gen=gen, stage="stats", status="done",
                      stage_wall_ms=int((time.time() - ta) * 1000))

        # the shared doc-metadata decode: ONE narrow mapInPandas over the
        # spill's packed doc rows (term ''), pinned for the three side
        # consumers above.  It has no dependency on terms, so its job runs
        # CONCURRENTLY with the terms build (terms is the critical path —
        # pack waits on it; doc_meta backfills idle cores).
        doc_meta = decode_doc_meta(tf.where(F.col("term") == "")).persist()
        persisted.append(doc_meta)
        doc_meta_fut = pool.submit(doc_meta.count)

        tb = time.time()
        if not store.stage_done(gen, "terms"):
            # term != '' drops the doc-metadata rows; the vocabulary is
            # exactly the real tokens.  df/cf come from per-run partial sums
            # — the agg is over RUN rows, ~10x smaller than a posting-row
            # groupBy, with identical results (every doc hits a term in
            # exactly one run).  Persisted because the giant-vocab rank's
            # repartitionByRange samples it in a separate pass.
            vocab = (
                tf.where(F.col("term") != "")
                .groupBy("term")
                .agg(F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("cf"))
                .persist()
            )
            persisted.append(vocab)
            n_vocab = vocab.count()
            # term_id = exact sorted rank of the term string, two ways with
            # identical results: below the threshold the driver sorts the
            # (tiny) dictionary itself — one collect + one write instead of
            # the distributed rank's sample/count/rank/write job chain, which
            # is pure serial overhead on the build's critical path (pack
            # waits on the dictionary).  A giant vocabulary takes the
            # scalable rank.  Driver sort key = UTF-8 bytes, matching
            # Spark's UTF8String binary ordering.
            if n_vocab <= 2_000_000:
                pdf = vocab.toPandas()
                pdf = pdf.iloc[
                    pdf["term"].str.encode("utf-8").to_numpy()
                    .argsort(kind="stable")
                ].reset_index(drop=True)
                pdf["term_id"] = pdf.index.to_numpy().astype("int64")
                # explicit schema: an empty vocabulary has no rows to infer
                # one from
                terms_df = spark.createDataFrame(
                    pdf[["term", "term_id", "df", "cf"]], schema=TERMS_SCHEMA
                )
            else:
                ranked, vocab_arranged = assign_sorted_rank(
                    vocab, ["term"], "term_id", return_persisted=True
                )
                persisted.append(vocab_arranged)
                terms_df = ranked.select("term", "term_id", "df", "cf")
            store.write_table(terms_df, "terms", gen)
            store.log(gen=gen, stage="terms", status="done", n_terms=n_vocab,
                      stage_wall_ms=int((time.time() - tb) * 1000))
        terms = store.read_table(spark, "terms", gen)
        doc_meta_fut.result()
        side_futs = [
            pool.submit(fn)
            for stage, fn in (
                ("doc_map", _mk_doc_map),
                ("norms", _mk_norms),
                ("stats", _mk_stats),
            )
            if not store.stage_done(gen, stage)
        ]

        # dictionary join: broadcast while the vocab is broadcastable
        # (checked by on-disk size) so the shard partitioning survives into
        # the packer; a giant vocab falls back to a shuffled join +
        # repartition
        terms_bytes = sum(
            f.stat().st_size
            for f in Path(store.table_path("terms", gen)).glob("*.parquet")
        )
        dict_df = terms.select("term", "term_id")
        small_vocab = terms_bytes < 256 * 1024 * 1024
        if small_vocab:
            dict_df = F.broadcast(dict_df)
        run_cols = ["shard", "term_id", "first_doc", "n_docs", "doc_deltas",
                    "tfs"] + (["pos_data"] if with_positions else [])
        with_ids = (
            tf.where(F.col("term") != "").join(dict_df, on="term")
            .select(*run_cols)
        )
        # Fast path (broadcastable vocab): the spill is already shuffled by
        # shard and sorted (shard, term, first_doc); the broadcast join
        # streams rows in order and term_id is the term's sorted rank, so
        # every (shard, term_id) group reaches the packer contiguous — pack
        # is a map-only stage whose only sort is the numpy doc-order merge
        # of each group's runs.  Fallback (giant vocab, shuffled dict join):
        # order is destroyed, so pack re-shuffles + re-sorts RUN rows (still
        # ~10x fewer rows than postings); partition count pinned explicitly
        # because AQE's byte-based coalescing would squeeze this small-but-
        # CPU-heavy stage into a handful of tasks and serialize the packer.
        if small_vocab:
            blocks = pack_posting_runs(
                with_ids, with_positions=with_positions, presorted=True,
            )
        else:
            blocks = pack_posting_runs(
                with_ids, with_positions=with_positions, presorted=False,
                partitions=spill_parts,
            )
        # Publish postings BUCKETED BY shard (same Murmur3 hash + count as
        # the spill's repartition, so each pack task emits exactly one
        # bucket file — no extra exchange on the write) and sorted
        # (term_id, shard, block_id) within buckets so parquet row-group
        # min/max stats skip for selective queries (the ffindex-offset-table
        # role).  The bucketed layout makes the query-time
        # cogroup(postings, norms) exchange-free: see
        # IndexStore.write_bucketed.
        tb = time.time()
        if not store.stage_done(gen, "pack"):
            store.write_bucketed(
                blocks, "postings", gen, n_buckets=spill_parts,
                sort_cols=("term_id", "shard", "block_id"),
            )
            store.log(
                gen=gen, stage="pack", status="done",
                n_blocks=_parquet_rows(store.table_path("postings", gen)),
                stage_wall_ms=int((time.time() - tb) * 1000),
            )
        for fut in side_futs:  # join side chains (re-raises their failures)
            fut.result()
    # the tf spill is scratch, not a published table: drop it now so the
    # build leaves only durable tables behind (on tmpfs stores a leaked
    # spill is resident RAM, which distorts anything measured after it)
    shutil.rmtree(tf_path, ignore_errors=True)

    # doc_ids are the dense sorted rank 0..n-1, so the shard count is driver
    # arithmetic — no extra job
    n_shards = (n_ids + docs_per_shard - 1) // docs_per_shard
    (Path(store.root) / gen / "_meta.json").write_text(
        json.dumps({"docs_per_shard": docs_per_shard,
                    "n_shards": n_shards,
                    "with_positions": with_positions,
                    "analyzer": analyzer})
    )
    store.publish(gen)
    store.log(gen=gen, stage="commit", status="done",
              wall_ms=int((time.time() - t0) * 1000))
    return gen
