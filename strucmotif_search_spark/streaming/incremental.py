"""Incremental ADD / REMOVE — the reference's update operations re-expressed
as copy-on-write generations with file-level reuse.

Reference semantics being preserved (update/StrucmotifUpdate.java):
- ADD: delta-plus = requested − known (E1, :493-503); new docIDs minted
  monotonically after the current max (DefaultStructureIndexProvider
  .java:114-122); only buckets touched by new docs are rewritten, untouched
  buckets are carried over (selectFromBundle, DefaultInvertedIndex
  .java:281-305); publication is atomic (:260-264).
- REMOVE: delta-minus = known ∩ requested (E2, :510-523); docIDs are retired,
  not reused immediately; affected buckets get CSR surgery
  (removeByKey, DefaultInvertedIndex.java:472-510).
- Consistency: index docIDs − doc_map docIDs must be empty (E5 orphan purge,
  :536-546).

File-level reuse here: a generation's postings = its own new chunk files
PLUS references to prior-gen files carried in ``_refs.json``, each ref with
an ``exclude_shards`` predicate (the Iceberg delete-file shape).  Only shards
actually touched by the delta are repacked; everything else is reused
by reference — at 10^12 scale this is the difference between an O(delta)
commit and an O(corpus) rewrite.

Two arms, one set of kernels: a commit the driver can hold (the batch
collected in one Spark job, its estimated memory within one task slot's
heap — ``fits_driver_commit``) runs on the driver
(streaming/local_commit.py: pyarrow reads of the rows it needs, the
build's numpy kernels, pyarrow writes); any other commit runs the Spark
arm below.  Both arms tokenize an ADD with the build's SPIMI run kernel
(``tokenizer._run_batches``, under ``packed_term_runs`` on Spark) and
repack postings with the build's merge (``postings._merge_pack_run_rows``,
under ``pack_posting_runs`` on Spark): the affected shards' old blocks
are read as runs, merged with an ADD's new runs, or with a REMOVE's
victims left out.  Both publish row-identical tables through the same
``_refs.json`` / ``_meta.json`` / CURRENT protocol, and each ``done``
lineage event records the ``arm`` taken.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..build.doc_map import DOC_KEY
from ..build.ids import assign_sorted_rank
from ..build.index_store import IndexStore
from ..build.norms import build_norms
from ..build.postings import blocks_as_runs, decode_postings, pack_posting_runs
from ..build.terms import build_stats
from ..tokenizer import decode_doc_meta, packed_term_runs
from . import local_commit
from .local_commit import repeated_key_error


def _free_ids(spark: SparkSession, store: IndexStore, gen: str) -> DataFrame | None:
    """Retired doc_ids available for reuse (free-list analogue,
    DefaultStructureIndexProvider.java:36-89).  Absent table == empty list
    (full builds never write one)."""
    p = Path(store.root) / gen / "free_ids"
    if not p.exists():
        return None
    return spark.read.parquet(str(p))


def _carry_refs(store: IndexStore, old_gen: str, exclude_shards: list[int]) -> list:
    """New gen references every posting part of the old gen (its own files
    and, transitively, its refs), each with the new exclusions appended.
    A generation that wrote no postings of its own (an ADD with nothing
    new) contributes no ref, so no ref ever names a missing directory."""
    return [
        {
            "path": store.ref_path(path),
            "exclude_shards": sorted(set(excl) | set(exclude_shards)),
        }
        for path, excl in store.posting_parts(old_gen)
    ]


# the most a commit may add to the driver's resident memory and still run
# there, in KB: the heap ``session.get_spark`` gives one task slot (768 MB),
# as the driver arm is one single-threaded task
DRIVER_KB = 768 * 1024


def commit_kb(
    n_docs: int, n_terms: int, batch_rows: int, affected_docs: int,
    positional: bool,
) -> int:
    """The driver arm's fitted peak resident growth for a commit, in KB:
    1/3 KB per indexed doc and per vocabulary term (``doc_map`` and
    ``terms`` are read and rewritten whole), 20 KB per batch row (an ADD
    row's content and tokens; a REMOVE key row costs far less, but one
    weight keeps the collect limit simple) and 16 KB per doc the affected
    shards hold (their decoded, sorted and repacked postings).  Rows and
    affected docs cost twice as much on a positional index."""
    scale = 2 if positional else 1
    per_commit = 20 * batch_rows + 16 * affected_docs
    return (n_docs + n_terms) // 3 + scale * per_commit


def fits_driver_commit(
    n_docs: int, n_terms: int, batch_rows: int, affected_docs: int,
    positional: bool,
) -> bool:
    """Whether a commit runs on the driver arm: its ``commit_kb`` is at
    most ``DRIVER_KB``.  Monotone in every count, so a refusal before
    ``affected_docs`` is known is final.

    The bound is placed by memory, not by speed: no measured commit ran
    faster on Spark.  Measured with ``tools/arm_crossover.py commit``
    (4-core box, ``local[4]``, ``generate_corpus(n, seed=1)``, 8,192 docs
    per shard, one commit per process on a fresh copy of the index;
    ``commit_kb`` / measured growth of the driver's RSS in MB, then
    driver / Spark ms):
    - 12k docs, 20,785 terms: ADD 200 74/74, 1,073/16,174; ADD 8,000
      226/189, 2,981/19,778; ADD 24,000 539/523, 7,292/28,047; REMOVE 100
      from one shard 141/140, 1,273/12,337; REMOVE 6,000 over both shards
      315/133, 1,340/13,385;
    - the same, positional: ADD 200 137/151, 2,386/15,776; ADD 8,000
      442/377, 7,493/25,106; REMOVE 100 from one shard 271/303,
      4,126/22,207; REMOVE 6,000 over both shards 620/327, 4,500/21,386;
    - 12k docs with 64 unique tokens each (``commit-vocab``), 788,785
      terms: ADD 200 324/280, 4,242/18,988; REMOVE 100 from one shard
      391/474, 5,487/17,674;
    - 96k docs, 26,395 terms: ADD 200 136/147, 1,744/14,253; REMOVE 100
      from one shard 170/208, 2,083/16,017; ADD 8,000 288/265,
      4,296/25,234; REMOVE 4,800 over all 12 shards 1,634/1,351 (refused),
      13,327/24,023.
    ``commit_kb`` reads 18% under to 21% over the measured growth, and
    up to 2.4x over for a REMOVE of many keys.  The driver ran 1.8-15x
    faster on every commit, the refused one included: the Spark arm pays
    ~12-16 s of fixed jobs and per-row work that grows as fast as the
    driver's (ADD 24,000: 28 s), so no batch the driver can hold reaches
    a time crossover.  What the driver cannot do is hold a large commit:
    the one refused above grew it by 1.35 GB.  These runs predate the
    repack by the build's posting merge, which decodes one slice of block
    rows at a time: that commit now grows the driver by 230 MB (5,179 ms
    driver, 13,345 ms Spark), so the per-doc weights overstate a REMOVE;
    the bound is left as measured until it is refitted."""
    return commit_kb(
        n_docs, n_terms, batch_rows, affected_docs, positional
    ) <= DRIVER_KB


def max_driver_rows(n_docs: int, n_terms: int, positional: bool) -> int:
    """The most batch rows ``fits_driver_commit`` admits before the
    affected shards are known."""
    fixed = commit_kb(n_docs, n_terms, 0, 0, positional)
    per_row = commit_kb(0, 0, 1, 0, positional)
    return (DRIVER_KB - fixed) // per_row


def _driver_commit(spark, store, old_gen, meta, rows: DataFrame, place):
    """The driver arm's placed commit when the rule admits it, else None.
    ``rows`` is the batch's projection; it is collected once (the arm's
    only Spark job) and handed to ``place``."""
    stats = local_commit.read_table(store, "stats", old_gen)
    n_docs = int(stats["n_docs"][0].as_py()) if stats.num_rows else 0
    n_terms = local_commit.count_rows(store, "terms", old_gen)
    wp = bool(meta.get("with_positions"))
    if not fits_driver_commit(n_docs, n_terms, 0, 0, wp):
        return None
    # one row past what the rule admits shows that the batch is larger
    batch = rows.limit(max_driver_rows(n_docs, n_terms, wp) + 1).toPandas()
    if not fits_driver_commit(n_docs, n_terms, len(batch), 0, wp):
        return None
    placed = place(batch)
    if not fits_driver_commit(
        n_docs, n_terms, len(batch), placed.affected_docs, wp
    ):
        return None
    return placed


def _codec(spark: SparkSession) -> str:
    codec = spark.conf.get("spark.sql.parquet.compression.codec", "zstd")
    return {"uncompressed": "none"}.get(codec, codec)


def add_documents(
    spark: SparkSession,
    store: IndexStore,
    new_docs: DataFrame,
    content_col: str = "content",
) -> str:
    """ADD: index the unknown subset of ``new_docs`` into a new generation.

    Touches only the shards that receive new documents (normally just the
    tail shard + fresh shards, since new doc_ids are minted after max).
    Exact duplicate rows in the batch collapse to one; a natural key that
    still repeats raises ``ValueError``.  A commit whose estimated driver
    memory fits the bound runs on the driver arm (``fits_driver_commit``),
    any other on Spark; both publish the same tables.  Returns the published generation name.
    """
    t0 = time.time()
    old_gen = store.current_gen()
    meta = store.meta(old_gen)
    local = _driver_commit(
        spark, store, old_gen, meta,
        new_docs.select(
            *DOC_KEY, "lang", content_col,
            F.unhex(F.sha2(F.col(content_col), 256)).alias("content_sha256"),
        ),
        lambda batch: local_commit.LocalAdd(
            store, old_gen, meta, batch, content_col
        ),
    )
    if local is None:
        return _add_spark(
            spark, store, old_gen, meta, new_docs, content_col, t0
        )
    gen = store.new_gen()
    store.log(gen=gen, stage="add", status="start", base=old_gen)
    local.commit(gen, _codec(spark))
    _publish(store, old_gen, gen, _grown_meta(meta, local.affected),
             local.affected)
    store.log(
        gen=gen, stage="add", status="done", n_added=local.n_added,
        affected_shards=len(local.affected),
        wall_ms=int((time.time() - t0) * 1000), arm="driver",
    )
    return gen


def _publish(store, old_gen, gen, meta: dict, affected: list[int]) -> None:
    """Write the generation's ``_refs.json`` (the old postings minus the
    affected shards) and ``_meta.json``, then flip CURRENT: the tail of
    every ADD and REMOVE, on either arm."""
    (Path(store.root) / gen / "_refs.json").write_text(
        json.dumps(_carry_refs(store, old_gen, affected))
    )
    (Path(store.root) / gen / "_meta.json").write_text(json.dumps(meta))
    store.publish(gen)


def _grown_meta(meta: dict, affected: list[int]) -> dict:
    """Minted ids past the old max open new shards: the shard count
    grows to cover every affected shard."""
    if not affected:
        return meta
    return {**meta, "n_shards": max(meta.get("n_shards") or 0, max(affected) + 1)}


def _drop_ids(store: IndexStore, gen: str) -> None:
    """Delete ``_add_spark``'s scratch ``ids`` table after its last read,
    so the published generation does not carry it."""
    shutil.rmtree(store.table_path("ids", gen))


def _add_spark(
    spark: SparkSession, store: IndexStore, old_gen: str, meta: dict,
    new_docs: DataFrame, content_col: str, t0: float,
) -> str:
    """The Spark arm of ``add_documents``."""
    dps = meta["docs_per_shard"]
    wp = bool(meta.get("with_positions"))
    doc_map = store.read_table(spark, "doc_map")
    terms = store.read_table(spark, "terms")

    # E1 delta-plus: requested − known (left-anti on the natural key).
    # Exact duplicate rows collapse to one; a key that still repeats would
    # fan out in the id join below, so it is refused
    unknown = new_docs.dropDuplicates([*DOC_KEY, "lang", content_col]).join(
        doc_map.select(*DOC_KEY), on=DOC_KEY, how="left_anti"
    )
    repeated = (
        unknown.groupBy(*DOC_KEY).count().where(F.col("count") > 1)
        .select(*DOC_KEY).limit(1).collect()
    )
    if repeated:
        raise repeated_key_error(tuple(repeated[0]))

    gen = store.new_gen()
    store.log(gen=gen, stage="add", status="start", base=old_gen)

    max_id = doc_map.agg(F.max("doc_id")).first()[0]
    # doc-id minting with FREE-LIST REUSE (the reference's reclaim protocol,
    # DefaultStructureIndexProvider.java:36-89,114-122): ids retired by
    # REMOVE are consumed smallest-first before minting past the current
    # max, so sustained churn cannot grow the id space (and with it the
    # shard count) without bound.  Deterministic: both the new docs and the
    # free list are ranked by exact global sort order.
    free = _free_ids(spark, store, old_gen)
    _rank_persists: list[DataFrame] = []
    ranked, _p = assign_sorted_rank(
        unknown.select(*DOC_KEY), DOC_KEY, "rank", return_persisted=True
    )
    _rank_persists.append(_p)
    n_free = free.count() if free is not None else 0
    # minting base: one past the LARGEST id ever used — surviving max OR a
    # free id above it (REMOVE of the current max leaves such ids; minting
    # from the surviving max alone would re-issue them and collide).  Both
    # may be None (empty doc_map after remove-all / no free list).
    free_max = (
        free.agg(F.max("doc_id")).first()[0] if free is not None else None
    )
    cands = [x for x in (max_id, free_max) if x is not None]
    base_id = max(cands) if cands else -1
    if n_free:
        free_ranked, _p = assign_sorted_rank(
            free.select(F.col("doc_id").alias("reuse_id")), ["reuse_id"],
            "rank", return_persisted=True,
        )
        _rank_persists.append(_p)
        ids = (
            ranked.join(free_ranked, on="rank", how="left")
            .select(
                *DOC_KEY,
                F.coalesce(
                    "reuse_id",
                    F.lit(base_id + 1 - n_free) + F.col("rank"),
                ).alias("doc_id"),
                "rank",
            )
        )
    else:
        ids = ranked.select(
            *DOC_KEY, (F.col("rank") + (base_id + 1)).alias("doc_id"), "rank"
        )
    ids = ids.drop("rank").withColumn(
        "shard", (F.col("doc_id") / dps).cast("int")
    )
    store.write_table(ids, "ids", gen)
    # targeted release of the rank pass's internal persists — NOT a global
    # clearCache, which would also evict the caller's live caches (engine
    # norms sidecars) and tf_new below
    for _p in _rank_persists:
        _p.unpersist()
    _rank_persists.clear()
    ids = store.read_table(spark, "ids", gen)

    affected = [r["shard"] for r in ids.select("shard").distinct().collect()]
    if not affected:  # nothing new — republish old tables untouched
        _drop_ids(store, gen)
        for t in ("doc_map", "terms", "stats", "norms"):
            store.write_table(store.read_table(spark, t, old_gen), t, gen)
        if free is not None:
            store.write_table(free, "free_ids", gen)
        _publish(store, old_gen, gen, meta, [])
        store.log(
            gen=gen, stage="add", status="done", n_added=0, affected_shards=0,
            wall_ms=int((time.time() - t0) * 1000), arm="spark",
        )
        return gen
    # free list shrinks by the consumed ids (reads from the OLD gen's table,
    # so the overwrite into the new gen is safe)
    if n_free:
        remaining_free = free.join(
            ids.select("doc_id"), on="doc_id", how="left_anti"
        )
        store.write_table(remaining_free, "free_ids", gen)

    # tokenize only the new docs with the build's kernel: SPIMI runs plus
    # per-shard doc-meta rows (positions ride along on a positional index
    # so the repacked shards keep phrase capability)
    runs_new = packed_term_runs(
        unknown.join(ids, on=DOC_KEY), docs_per_shard=dps,
        content_col=content_col, with_positions=wp,
        analyzer=meta.get("analyzer", "standard"),
    ).persist()
    runs_new.count()
    term_runs = runs_new.where(F.col("term") != "")

    # doc_map: old ∪ new (doclen and sha from the doc-meta rows)
    new_rows = (
        unknown.select(*DOC_KEY, "lang")
        .join(ids, on=DOC_KEY)
        .join(decode_doc_meta(runs_new.where(F.col("term") == "")), on="doc_id")
        .select(
            "doc_id", *DOC_KEY, "lang", "content_sha256", "doclen", "shard"
        )
    )
    store.write_table(doc_map.unionByName(new_rows), "doc_map", gen)
    doc_map_new = store.read_table(spark, "doc_map", gen)

    # terms: exact df/cf merge from the run rows, as the build takes them;
    # brand-new terms ranked after the old max id
    delta = term_runs.groupBy("term").agg(
        F.sum("n_docs").alias("df_add"), F.sum("sum_tf").alias("cf_add")
    )
    merged = terms.join(delta, on="term", how="full_outer")
    known_terms = merged.where(F.col("term_id").isNotNull()).select(
        "term",
        "term_id",
        (F.col("df") + F.coalesce("df_add", F.lit(0))).alias("df"),
        (F.col("cf") + F.coalesce("cf_add", F.lit(0))).alias("cf"),
    )
    max_tid = terms.agg(F.max("term_id")).first()[0]
    if max_tid is None:  # terms table emptied by a remove-all
        max_tid = -1
    fresh = merged.where(F.col("term_id").isNull()).select(
        "term", F.col("df_add").alias("df"), F.col("cf_add").alias("cf")
    )
    fresh_ranked, _p = assign_sorted_rank(
        fresh, ["term"], "term_id", start=max_tid + 1, return_persisted=True
    )
    store.write_table(
        known_terms.unionByName(fresh_ranked.select("term", "term_id", "df", "cf")),
        "terms",
        gen,
    )
    _p.unpersist()  # targeted: runs_new and caller caches must survive
    terms_new = store.read_table(spark, "terms", gen)

    store.write_table(build_stats(doc_map_new), "stats", gen)
    store.write_table(build_norms(doc_map_new), "norms", gen)

    # postings: repack ONLY affected shards = their old blocks merged with
    # the new runs
    old_runs = blocks_as_runs(
        store.read_postings(spark, old_gen).where(F.col("shard").isin(affected)),
        wp,
    )
    new_runs = term_runs.join(terms_new.select("term", "term_id"), on="term")
    pack_posting_runs(
        old_runs.unionByName(new_runs.select(*old_runs.columns)),
        with_positions=wp, presorted=False,
    ).write.mode("overwrite").parquet(
        str(Path(store.root) / gen / "postings" / "chunk=add")
    )
    n_added = ids.count()
    runs_new.unpersist()
    _drop_ids(store, gen)
    _publish(store, old_gen, gen, _grown_meta(meta, affected), affected)
    store.log(
        gen=gen, stage="add", status="done", n_added=n_added,
        affected_shards=len(affected), wall_ms=int((time.time() - t0) * 1000),
        arm="spark",
    )
    return gen


def remove_documents(
    spark: SparkSession, store: IndexStore, keys: DataFrame
) -> str:
    """REMOVE: delete the known subset of ``keys`` (natural-key rows) from a
    new generation.  Affected shards get posting surgery; df/cf shrink
    exactly; retired doc_ids go to the generation's free list, where the
    next ADD reuses them smallest-first (see ``add_documents``) — external
    references keyed by doc_id must therefore treat a REMOVE as
    invalidating the id, not parking it.  A commit whose estimated driver
    memory fits the bound runs on the driver arm (``fits_driver_commit``),
    any other on Spark; both publish the same tables."""
    t0 = time.time()
    old_gen = store.current_gen()
    meta = store.meta(old_gen)
    local = _driver_commit(
        spark, store, old_gen, meta, keys.select(*DOC_KEY),
        lambda batch: local_commit.LocalRemove(store, old_gen, meta, batch),
    )
    if local is None:
        return _remove_spark(spark, store, old_gen, meta, keys, t0)
    gen = store.new_gen()
    store.log(gen=gen, stage="remove", status="start", base=old_gen)
    local.commit(gen, _codec(spark))
    _publish(store, old_gen, gen, meta, local.affected)
    store.log(
        gen=gen, stage="remove", status="done",
        affected_shards=len(local.affected),
        wall_ms=int((time.time() - t0) * 1000), arm="driver",
    )
    return gen


def _remove_spark(
    spark: SparkSession, store: IndexStore, old_gen: str, meta: dict,
    keys: DataFrame, t0: float,
) -> str:
    """The Spark arm of ``remove_documents``."""
    wp = bool(meta.get("with_positions"))
    doc_map = store.read_table(spark, "doc_map")
    terms = store.read_table(spark, "terms")

    gen = store.new_gen()
    store.log(gen=gen, stage="remove", status="start", base=old_gen)

    # E2 delta-minus: known ∩ requested
    victims = doc_map.join(keys.select(*DOC_KEY), on=DOC_KEY, how="left_semi")
    victim_rows = victims.select("doc_id", "shard").toPandas()
    affected = sorted({int(s) for s in victim_rows["shard"]})
    victim_ids = victims.select("doc_id")

    store.write_table(
        doc_map.join(victim_ids, on="doc_id", how="left_anti"), "doc_map", gen
    )
    doc_map_new = store.read_table(spark, "doc_map", gen)
    # retire the victims' ids into the free list for ADD to reuse
    free = _free_ids(spark, store, old_gen)
    retired = victim_ids if free is None else free.unionByName(victim_ids)
    store.write_table(retired.distinct(), "free_ids", gen)

    old_blocks = store.read_postings(spark, old_gen).where(
        F.col("shard").isin(affected)
    )
    removed_tf = decode_postings(old_blocks).join(
        victim_ids, on="doc_id", how="left_semi"
    )

    # terms: exact decrement (E3 df/cf surgery); drop df<=0 rows
    dec = removed_tf.groupBy("term_id").agg(
        F.count("*").alias("df_sub"), F.sum("tf").alias("cf_sub")
    )
    terms_new = (
        terms.join(dec, on="term_id", how="left")
        .select(
            "term",
            "term_id",
            (F.col("df") - F.coalesce("df_sub", F.lit(0))).alias("df"),
            (F.col("cf") - F.coalesce("cf_sub", F.lit(0))).alias("cf"),
        )
        .where(F.col("df") > 0)
    )
    store.write_table(terms_new, "terms", gen)
    store.write_table(build_stats(doc_map_new), "stats", gen)
    store.write_table(build_norms(doc_map_new), "norms", gen)

    # the old blocks merged as runs, the victims' postings left out
    pack_posting_runs(
        blocks_as_runs(old_blocks, wp), with_positions=wp, presorted=False,
        drop=victim_rows["doc_id"].to_numpy(),
    ).write.mode("overwrite").parquet(
        str(Path(store.root) / gen / "postings" / "chunk=remove")
    )
    _publish(store, old_gen, gen, meta, affected)
    store.log(
        gen=gen, stage="remove", status="done",
        affected_shards=len(affected), wall_ms=int((time.time() - t0) * 1000),
        arm="spark",
    )
    return gen


def compact(spark: SparkSession, store: IndexStore) -> str:
    """Sort-merge consolidation (S7/S8): fold the current generation —
    its own chunk files plus every `_refs.json` reference with its
    delete predicates — into ONE fresh, fully bucketed generation with no
    refs.  The analogue of the reference's bundle merge that rewrites
    accumulated partial bundles into a single production bundle
    (io/DefaultInvertedIndex.java:233-264); in Iceberg terms, a rewrite of
    data files that collapses the manifest list and drops delete files.

    Incremental ADD/REMOVE generations answer queries through a unioned,
    exchange-paying read plan; compaction restores the exchange-free
    bucketed layout.  Scale shape: one hash(shard) shuffle of posting
    BLOCK rows, read as SPIMI runs, then the fused build's merge
    (``pack_posting_runs``) into ``spark.sql.shuffle.partitions`` buckets;
    postings are decoded only inside the merge.
    """
    old_gen = store.current_gen()
    meta = store.meta(old_gen)
    wp = bool(meta.get("with_positions"))
    t0 = time.time()
    gen = store.new_gen()
    store.log(gen=gen, stage="compact", status="start", base=old_gen)
    nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
    blocks = pack_posting_runs(
        blocks_as_runs(store.read_postings(spark), wp), with_positions=wp,
        presorted=False, partitions=nb,
    )
    store.write_bucketed(
        blocks, "postings", gen, n_buckets=nb,
        sort_cols=("term_id", "shard", "block_id"),
    )
    # doc tables are already correct for the current corpus — carry them
    # into the new generation (norms re-bucketed alongside postings)
    for t in ("doc_map", "terms", "stats"):
        store.write_table(store.read_table(spark, t, old_gen), t, gen)
    carried_free = _free_ids(spark, store, old_gen)
    if carried_free is not None:
        store.write_table(carried_free, "free_ids", gen)
    store.write_bucketed(
        store.read_bucketed(spark, "norms", old_gen), "norms", gen,
        n_buckets=nb, sort_cols=("shard",),
    )
    (Path(store.root) / gen / "_meta.json").write_text(json.dumps(meta))
    store.publish(gen)
    store.log(gen=gen, stage="compact", status="done",
              wall_ms=int((time.time() - t0) * 1000))
    return gen


def verify_consistency(spark: SparkSession, store: IndexStore) -> dict:
    """E5 orphan check + df/cf cross-check + doc-dictionary uniqueness;
    returns counts (all zeros = OK).  ``duplicate_docs`` counts the
    ``doc_map`` rows beyond the first per ``doc_id`` plus those beyond the
    first per natural key.

    Mirrors the reference's lingering-key reconciliation
    (StrucmotifUpdate.java:536-546 / DefaultInvertedIndex.reportKnownKeys).
    """
    doc_map = store.read_table(spark, "doc_map")
    n, n_ids, n_keys = doc_map.agg(
        F.count("*"), F.countDistinct("doc_id"), F.countDistinct(*DOC_KEY)
    ).first()
    terms = store.read_table(spark, "terms")
    decoded = decode_postings(store.read_postings(spark))
    orphans = (
        decoded.select("doc_id")
        .distinct()
        .join(doc_map.select("doc_id"), on="doc_id", how="left_anti")
        .count()
    )
    recomputed = decoded.groupBy("term_id").agg(
        F.count("*").alias("df2"), F.sum("tf").alias("cf2")
    )
    bad_terms = (
        terms.join(recomputed, on="term_id", how="full_outer")
        .where(
            (F.coalesce("df", F.lit(-1)) != F.coalesce("df2", F.lit(-2)))
            | (F.coalesce("cf", F.lit(-1)) != F.coalesce("cf2", F.lit(-2)))
        )
        .count()
    )
    return {
        "orphan_doc_ids": orphans, "inconsistent_terms": bad_terms,
        "duplicate_docs": (n - n_ids) + (n - n_keys),
    }


def generation_changes(
    spark: SparkSession,
    store: IndexStore,
    from_gen: str,
    to_gen: str | None = None,
) -> DataFrame:
    """Changelog between two generations — the Iceberg CDC / changelog-scan
    analogue: one row per document whose MEMBERSHIP changed, (op, repo,
    path, commit) with op in {'add', 'remove'}.

    Computed from the two generations' doc dictionaries alone (natural-key
    anti-joins — metadata-sized, content is never read), which is exactly
    the Iceberg shape: snapshot diffs come from manifests, not data files.
    A doc present in both but re-added with different content is BOTH a
    remove and an add (its `commit` key differs).  Compaction produces an
    empty changelog — it rewrites files, not membership.
    """
    a = store.read_table(spark, "doc_map", from_gen).select(*DOC_KEY)
    b = store.read_table(
        spark, "doc_map", to_gen or store.current_gen()
    ).select(*DOC_KEY)
    added = b.join(a, on=list(DOC_KEY), how="left_anti").select(
        F.lit("add").alias("op"), *DOC_KEY
    )
    removed = a.join(b, on=list(DOC_KEY), how="left_anti").select(
        F.lit("remove").alias("op"), *DOC_KEY
    )
    return added.unionByName(removed)
