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
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..build.doc_map import DOC_KEY
from ..build.ids import assign_sorted_rank
from ..build.index_store import IndexStore
from ..build.norms import build_norms
from ..build.postings import decode_postings, pack_postings
from ..build.terms import build_stats
from ..tokenizer import term_frequencies


def _meta(store: IndexStore, gen: str) -> dict:
    return json.loads((Path(store.root) / gen / "_meta.json").read_text())


def _free_ids(spark: SparkSession, store: IndexStore, gen: str) -> DataFrame | None:
    """Retired doc_ids available for reuse (free-list analogue,
    DefaultStructureIndexProvider.java:36-89).  Absent table == empty list
    (full builds never write one)."""
    p = Path(store.root) / gen / "free_ids"
    if not p.exists():
        return None
    return spark.read.parquet(str(p))


def _carry_refs(store: IndexStore, old_gen: str, exclude_shards: list[int]) -> list:
    """New gen references the old gen's own files and transitively its refs,
    each with the new exclusions appended."""
    refs = [
        {
            "path": str(Path(store.root) / old_gen / "postings"),
            "exclude_shards": sorted(exclude_shards),
        }
    ]
    old_refs = Path(store.root) / old_gen / "_refs.json"
    if old_refs.exists():
        for r in json.loads(old_refs.read_text()):
            refs.append(
                {
                    "path": r["path"],
                    "exclude_shards": sorted(
                        set(r.get("exclude_shards", [])) | set(exclude_shards)
                    ),
                }
            )
    return refs


def add_documents(
    spark: SparkSession,
    store: IndexStore,
    new_docs: DataFrame,
    content_col: str = "content",
) -> str:
    """ADD: index the unknown subset of ``new_docs`` into a new generation.

    Touches only the shards that receive new documents (normally just the
    tail shard + fresh shards, since new doc_ids are minted after max).
    Returns the published generation name.
    """
    t0 = time.time()
    old_gen = store.current_gen()
    meta = _meta(store, old_gen)
    dps = meta["docs_per_shard"]
    wp = bool(meta.get("with_positions"))
    doc_map = store.read_table(spark, "doc_map")
    terms = store.read_table(spark, "terms")

    gen = store.new_gen()
    store.log(gen=gen, stage="add", status="start", base=old_gen)

    # E1 delta-plus: requested − known (left-anti on the natural key)
    unknown = new_docs.join(doc_map.select(*DOC_KEY), on=DOC_KEY, how="left_anti")
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
        for t in ("doc_map", "terms", "stats", "norms"):
            store.write_table(store.read_table(spark, t, old_gen), t, gen)
        if free is not None:
            store.write_table(free, "free_ids", gen)
        (Path(store.root) / gen / "_refs.json").write_text(
            json.dumps(_carry_refs(store, old_gen, []))
        )
        (Path(store.root) / gen / "_meta.json").write_text(json.dumps(meta))
        store.publish(gen)
        store.log(gen=gen, stage="add", status="done", n_added=0)
        return gen
    # free list shrinks by the consumed ids (reads from the OLD gen's table,
    # so the overwrite into the new gen is safe)
    if n_free:
        remaining_free = free.join(
            ids.select("doc_id"), on="doc_id", how="left_anti"
        )
        store.write_table(remaining_free, "free_ids", gen)

    # tokenize only the new docs (positions ride along on a positional index
    # so the repacked shards keep phrase capability)
    tf_new = term_frequencies(
        unknown.join(ids, on=DOC_KEY), content_col=content_col,
        with_positions=wp, analyzer=meta.get("analyzer", "standard"),
    ).join(ids.select("doc_id", "shard"), on="doc_id").persist()
    tf_new.count()

    # doc_map: old ∪ new (doclen from the tokenize pass; sha from content)
    new_rows = (
        unknown.select(
            *DOC_KEY, "lang", F.sha2(F.col(content_col), 256).alias("content_sha256")
        )
        .join(ids, on=DOC_KEY)
        .join(
            tf_new.groupBy("doc_id").agg(F.sum("tf").alias("doclen")),
            on="doc_id",
            how="left",
        )
        .select(
            "doc_id", *DOC_KEY, "lang", "content_sha256",
            F.coalesce(F.col("doclen"), F.lit(0)).cast("long").alias("doclen"),
            "shard",
        )
    )
    store.write_table(doc_map.unionByName(new_rows), "doc_map", gen)
    doc_map_new = store.read_table(spark, "doc_map", gen)

    # terms: exact df/cf merge; brand-new terms ranked after the old max id
    delta = tf_new.groupBy("term").agg(
        F.count("*").alias("df_add"), F.sum("tf").alias("cf_add")
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
    _p.unpersist()  # targeted: tf_new and caller caches must survive
    terms_new = store.read_table(spark, "terms", gen)

    store.write_table(build_stats(doc_map_new), "stats", gen)
    store.write_table(build_norms(doc_map_new), "norms", gen)

    # postings: repack ONLY affected shards = old decoded rows ∪ new tf
    pcols = ["shard", "term_id", "doc_id", "tf"] + (["positions"] if wp else [])
    old_affected = decode_postings(
        store.read_postings(spark, old_gen).where(F.col("shard").isin(affected)),
        with_positions=wp,
    ).withColumn("shard", (F.col("doc_id") / dps).cast("int"))
    new_with_ids = tf_new.join(terms_new.select("term", "term_id"), on="term").select(
        *pcols
    )
    union = old_affected.select(*pcols).unionByName(new_with_ids)
    pack_postings(union, with_positions=wp).write.mode("overwrite").parquet(
        str(Path(store.root) / gen / "postings" / "chunk=add")
    )
    (Path(store.root) / gen / "_refs.json").write_text(
        json.dumps(_carry_refs(store, old_gen, affected))
    )
    # minted ids past the old max open new shards: the shard count grows
    meta["n_shards"] = max(meta.get("n_shards") or 0, max(affected) + 1)
    (Path(store.root) / gen / "_meta.json").write_text(json.dumps(meta))
    tf_new.unpersist()
    store.publish(gen)
    n_added = ids.count()
    store.log(
        gen=gen, stage="add", status="done", n_added=n_added,
        affected_shards=len(affected), wall_ms=int((time.time() - t0) * 1000),
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
    invalidating the id, not parking it."""
    t0 = time.time()
    old_gen = store.current_gen()
    meta = _meta(store, old_gen)
    dps = meta["docs_per_shard"]
    wp = bool(meta.get("with_positions"))
    doc_map = store.read_table(spark, "doc_map")
    terms = store.read_table(spark, "terms")

    gen = store.new_gen()
    store.log(gen=gen, stage="remove", status="start", base=old_gen)

    # E2 delta-minus: known ∩ requested
    victims = doc_map.join(keys.select(*DOC_KEY), on=DOC_KEY, how="left_semi")
    affected = [r["shard"] for r in victims.select("shard").distinct().collect()]
    victim_ids = victims.select("doc_id")

    store.write_table(
        doc_map.join(victim_ids, on="doc_id", how="left_anti"), "doc_map", gen
    )
    doc_map_new = store.read_table(spark, "doc_map", gen)
    # retire the victims' ids into the free list for ADD to reuse
    free = _free_ids(spark, store, old_gen)
    retired = victim_ids if free is None else free.unionByName(victim_ids)
    store.write_table(retired.distinct(), "free_ids", gen)

    old_affected = decode_postings(
        store.read_postings(spark, old_gen).where(F.col("shard").isin(affected)),
        with_positions=wp,
    )
    removed_tf = old_affected.join(victim_ids, on="doc_id", how="left_semi")
    survivors = old_affected.join(victim_ids, on="doc_id", how="left_anti")

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

    pcols = ["shard", "term_id", "doc_id", "tf"] + (["positions"] if wp else [])
    surviving_blocks = pack_postings(
        survivors.withColumn("shard", (F.col("doc_id") / dps).cast("int")).select(
            *pcols
        ),
        with_positions=wp,
    )
    surviving_blocks.write.mode("overwrite").parquet(
        str(Path(store.root) / gen / "postings" / "chunk=remove")
    )
    (Path(store.root) / gen / "_refs.json").write_text(
        json.dumps(_carry_refs(store, old_gen, affected))
    )
    (Path(store.root) / gen / "_meta.json").write_text(json.dumps(meta))
    store.publish(gen)
    store.log(
        gen=gen, stage="remove", status="done",
        affected_shards=len(affected), wall_ms=int((time.time() - t0) * 1000),
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
    bucketed layout.  Scale shape: decode -> one hash(shard) shuffle of
    narrow rows -> repack, identical to the fused build's pack stage.
    """
    old_gen = store.current_gen()
    meta = _meta(store, old_gen)
    wp = bool(meta.get("with_positions"))
    t0 = time.time()
    gen = store.new_gen()
    store.log(gen=gen, stage="compact", status="start", base=old_gen)
    dps = meta["docs_per_shard"]
    rows = decode_postings(
        store.read_postings(spark), with_positions=wp
    ).withColumn("shard", (F.col("doc_id") / dps).cast("int"))
    nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pcols = ["shard", "term_id", "doc_id", "tf"] + (["positions"] if wp else [])
    blocks = pack_postings(
        rows.select(*pcols), partitions=nb, with_positions=wp
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
    """E5 orphan check + df/cf cross-check; returns counts (all zeros = OK).

    Mirrors the reference's lingering-key reconciliation
    (StrucmotifUpdate.java:536-546 / DefaultInvertedIndex.reportKnownKeys).
    """
    doc_map = store.read_table(spark, "doc_map")
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
    return {"orphan_doc_ids": orphans, "inconsistent_terms": bad_terms}


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
