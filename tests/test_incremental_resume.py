"""Build-mutation + resume tests — the analogue of the reference's
UpdateIntegrationTest (ADD/REMOVE/re-ADD with commitInterval=1,
UpdateIntegrationTest.java:100-171) and the RECOVER path
(StrucmotifUpdate.java:532-546).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.build.postings import decode_postings
from strucmotif_search_spark.corpus import generate_corpus
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.oracle import bm25_topk, build_oracle
from strucmotif_search_spark.streaming.incremental import (
    add_documents,
    remove_documents,
    verify_consistency,
)

N0, N_ADD = 300, 60


def _decoded_index(spark, store):
    """Canonical postings content: sorted (term, doc_id, tf) pandas frame."""
    eng = SearchEngine(spark, store)
    d = decode_postings(eng.postings).join(
        eng.terms.select("term_id", "term"), on="term_id"
    )
    return (
        d.select("term", "doc_id", "tf")
        .toPandas()
        .sort_values(["term", "doc_id"])
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def corpus(spark):
    full = generate_corpus(spark, N0 + N_ADD, seed=7, partitions=8).cache()
    full.count()
    # split on a deterministic hash so both subsets span shards
    base = full.where(F.crc32(F.col("path")) % (N0 + N_ADD) < N0 * 10)  # rough
    # exact split: rank by key
    keys = full.select("repo", "path", "commit").orderBy("repo", "path", "commit")
    head = keys.limit(N0)
    base = full.join(head, on=["repo", "path", "commit"], how="left_semi")
    extra = full.join(head, on=["repo", "path", "commit"], how="left_anti")
    return full, base, extra


def test_add_matches_fresh_rebuild(spark, corpus, tmp_path_factory):
    full, base, extra = corpus
    # incremental: build base, then ADD extra
    store_inc = IndexStore(tmp_path_factory.mktemp("inc"))
    build_index(spark, base, store_inc, docs_per_shard=64)
    add_documents(spark, store_inc, extra)
    # fresh: build everything at once
    store_fresh = IndexStore(tmp_path_factory.mktemp("fresh"))
    build_index(spark, full, store_fresh, docs_per_shard=64)

    inc = _decoded_index(spark, store_inc)
    fresh = _decoded_index(spark, store_fresh)
    # same postings CONTENT keyed by term string...
    assert len(inc) == len(fresh)
    # doc_ids differ between the two (incremental mints base-first), so map
    # through the natural key: compare per-term df and cf
    inc_stats = inc.groupby("term").agg(df=("doc_id", "size"), cf=("tf", "sum"))
    fresh_stats = fresh.groupby("term").agg(df=("doc_id", "size"), cf=("tf", "sum"))
    assert inc_stats.equals(fresh_stats)
    # terms table df/cf match the recount
    res = verify_consistency(spark, store_inc)
    assert res == {"orphan_doc_ids": 0, "inconsistent_terms": 0}


def test_add_is_idempotent(spark, corpus, tmp_path_factory):
    full, base, extra = corpus
    store = IndexStore(tmp_path_factory.mktemp("idem"))
    build_index(spark, base, store, docs_per_shard=64)
    add_documents(spark, store, extra)
    before = _decoded_index(spark, store)
    terms_before = (
        SearchEngine(spark, store).terms.toPandas().sort_values("term_id")
        .reset_index(drop=True)
    )
    # re-ADD the same docs: delta-plus must be empty, index unchanged
    add_documents(spark, store, extra)
    after = _decoded_index(spark, store)
    terms_after = (
        SearchEngine(spark, store).terms.toPandas().sort_values("term_id")
        .reset_index(drop=True)
    )
    assert before.equals(after)
    assert terms_before.equals(terms_after)


def test_remove_shrinks_exactly_and_query_parity(spark, corpus, tmp_path_factory):
    full, base, extra = corpus
    store = IndexStore(tmp_path_factory.mktemp("rm"))
    build_index(spark, full, store, docs_per_shard=64)
    # remove the 'extra' subset
    remove_documents(spark, store, extra.select("repo", "path", "commit"))
    res = verify_consistency(spark, store)
    assert res == {"orphan_doc_ids": 0, "inconsistent_terms": 0}

    # engine over removed index == oracle over base-only corpus
    eng = SearchEngine(spark, store)
    assert eng.doc_map.count() == N0
    dm = eng.doc_map.select("doc_id", "repo", "path", "commit").toPandas()
    src = base.select("repo", "path", "commit", "content").toPandas()
    merged = dm.merge(src, on=["repo", "path", "commit"])
    assert len(merged) == N0
    oracle = build_oracle(merged["doc_id"].tolist(), merged["content"].tolist())
    for q, mode in [("import", "or"), ("v_00001 v_00002", "and"), ("def for", "or")]:
        exp = bm25_topk(oracle, q, k=10, mode=mode)
        got = [
            (r["doc_id"], r["score"])
            for r in eng.search(q, k=10, mode=mode, with_meta=False).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in exp]
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in exp], rtol=0, atol=1e-12
        )


@pytest.mark.parametrize("crash_at", ["decode_doc_meta", "pack_posting_runs"])
def test_fused_resume_mid_merge(spark, corpus, tmp_path_factory, crash_at):
    """Crash the build after the spill — at the doc-metadata decode (before
    terms) or at the postings pack (after terms, with the side stages
    running); resume the same generation.  The final index must equal an
    uninterrupted build, the spill must not be re-tokenized, and no stage
    logged done may run again (RECOVER contract)."""
    full, base, extra = corpus
    store_a = IndexStore(tmp_path_factory.mktemp("fresume"))

    import strucmotif_search_spark.build.builder as bmod

    def exploding(*a, **kw):
        raise RuntimeError("simulated crash post-spill")

    real = getattr(bmod, crash_at)
    setattr(bmod, crash_at, exploding)
    try:
        with pytest.raises(Exception, match="simulated crash"):
            build_index(
                spark, base, store_a, docs_per_shard=64, gen="gen-000001",
            )
    finally:
        setattr(bmod, crash_at, real)

    assert store_a.current_gen() is None  # crash never published
    assert store_a.stage_done("gen-000001", "partials")

    build_index(spark, base, store_a, docs_per_shard=64, gen="gen-000001")
    assert store_a.current_gen() == "gen-000001"
    events = [e for e in store_a.lineage() if e.get("gen") == "gen-000001"]
    # the resume reused the spill (exactly one partials 'done' + one
    # 'resumed' event across both runs)
    partials = [e["status"] for e in events if e["stage"] == "partials"]
    assert partials == ["done", "resumed"]
    # every stage ran to 'done' exactly once across both runs
    for stage in ("terms", "doc_map", "norms", "stats", "pack"):
        done = [e for e in events
                if e["stage"] == stage and e["status"] == "done"]
        assert len(done) == 1, stage

    store_b = IndexStore(tmp_path_factory.mktemp("fclean"))
    build_index(spark, base, store_b, docs_per_shard=64)
    assert _decoded_index(spark, store_a).equals(_decoded_index(spark, store_b))
    for table, key in (("doc_map", "doc_id"), ("terms", "term_id")):
        got, want = (
            getattr(SearchEngine(spark, s), table).toPandas()
            .sort_values(key).reset_index(drop=True)
            for s in (store_a, store_b)
        )
        assert got.equals(want), table


def test_docid_free_list_reuse(spark, corpus, tmp_path_factory):
    """REMOVE retires doc_ids into a free list; ADD consumes them smallest-
    first before minting past max — sustained churn must not grow the id
    space (DefaultStructureIndexProvider.java:36-89 analogue)."""
    full, base, extra = corpus
    store = IndexStore(tmp_path_factory.mktemp("freelist"))
    build_index(
        spark, full, store, docs_per_shard=64,
    )
    eng = SearchEngine(spark, store)
    max_before = eng.doc_map.agg(F.max("doc_id")).first()[0]
    n_shards_before = eng.doc_map.agg(F.max("shard")).first()[0]

    remove_documents(spark, store, extra.select("repo", "path", "commit"))
    free = spark.read.parquet(str(store.root / store.current_gen() / "free_ids"))
    assert free.count() == N_ADD

    add_documents(spark, store, extra)
    eng2 = SearchEngine(spark, store)
    # ids were REUSED: the id space did not grow
    assert eng2.doc_map.agg(F.max("doc_id")).first()[0] == max_before
    assert eng2.doc_map.agg(F.max("shard")).first()[0] == n_shards_before
    assert eng2.doc_map.count() == N0 + N_ADD
    free2 = spark.read.parquet(str(store.root / store.current_gen() / "free_ids"))
    assert free2.count() == 0
    assert verify_consistency(spark, store) == {
        "orphan_doc_ids": 0, "inconsistent_terms": 0,
    }
    # query parity vs oracle over the full corpus through the churned index
    dm = eng2.doc_map.select("doc_id", "repo", "path", "commit").toPandas()
    src = full.select("repo", "path", "commit", "content").toPandas()
    merged = dm.merge(src, on=["repo", "path", "commit"])
    assert len(merged) == N0 + N_ADD
    oracle = build_oracle(merged["doc_id"].tolist(), merged["content"].tolist())
    for q, mode in [("import def", "or"), ("v_00001 v_00002", "and")]:
        exp = bm25_topk(oracle, q, k=10, mode=mode)
        got = [
            (r["doc_id"], r["score"])
            for r in eng2.search(q, k=10, mode=mode, with_meta=False).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in exp]
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in exp], rtol=0, atol=1e-12
        )


def test_remove_on_fused_base_reads_back(spark, corpus, tmp_path_factory):
    """REMOVE against the fused/bucketed production layout (the layout
    __spark_entry__ and bench publish) must produce a readable generation —
    twin of the ADD-path regression fixed in round 3."""
    full, base, extra = corpus
    store = IndexStore(tmp_path_factory.mktemp("rmfused"))
    build_index(
        spark, full, store, docs_per_shard=64,
    )
    remove_documents(spark, store, extra.select("repo", "path", "commit"))
    eng = SearchEngine(spark, store)
    assert eng.doc_map.count() == N0
    assert verify_consistency(spark, store) == {
        "orphan_doc_ids": 0, "inconsistent_terms": 0,
    }
    # query parity vs oracle over the surviving corpus
    dm = eng.doc_map.select("doc_id", "repo", "path", "commit").toPandas()
    src = base.select("repo", "path", "commit", "content").toPandas()
    merged = dm.merge(src, on=["repo", "path", "commit"])
    oracle = build_oracle(merged["doc_id"].tolist(), merged["content"].tolist())
    exp = bm25_topk(oracle, "import def", k=10)
    got = [
        (r["doc_id"], r["score"])
        for r in eng.search("import def", k=10, with_meta=False).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in exp], rtol=0, atol=1e-12
    )


def test_compact_collapses_refs_and_restores_bucketing(
    spark, corpus, tmp_path_factory
):
    """ADD leaves a refs-unioned (exchange-paying) read plan; compact()
    folds everything into one fresh bucketed generation: identical decoded
    content, no refs, exchange-free query plan, query parity."""
    import json as _json
    from pathlib import Path

    from strucmotif_search_spark.streaming.incremental import compact

    full, base, extra = corpus
    store = IndexStore(tmp_path_factory.mktemp("cmp"))
    build_index(
        spark, base, store, docs_per_shard=64,
    )
    add_documents(spark, store, extra)
    gen_before = store.current_gen()
    assert (Path(store.root) / gen_before / "_refs.json").exists()
    before = _decoded_index(spark, store)
    q_before = [
        (r["doc_id"], r["score"])
        for r in SearchEngine(spark, store)
        .search("import def", k=10, with_meta=False).collect()
    ]

    gen = compact(spark, store)
    assert store.current_gen() == gen
    assert not (Path(store.root) / gen / "_refs.json").exists()
    bmeta = _json.loads((Path(store.root) / gen / "_buckets.json").read_text())
    assert "postings" in bmeta and "norms" in bmeta

    after = _decoded_index(spark, store)
    assert before.equals(after)
    eng = SearchEngine(spark, store)
    q_after = [
        (r["doc_id"], r["score"])
        for r in eng.search("import def", k=10, with_meta=False).collect()
    ]
    assert q_before == q_after
    plan = (
        eng.search("import def", k=10, with_meta=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert verify_consistency(spark, store) == {
        "orphan_doc_ids": 0, "inconsistent_terms": 0,
    }


def test_compact_after_remove_restores_bucketing(
    spark, corpus, tmp_path_factory
):
    """REMOVE-path twin of the ADD compact regression above (round-3
    verdict item 8): REMOVE also leaves a refs generation, and compact()
    after it must fold to one bucketed generation with identical decoded
    content, query parity, and an exchange-free plan — cheap insurance on
    the only subsystem that has regressed before (r2 S8/E4)."""
    import json as _json
    from pathlib import Path

    from strucmotif_search_spark.streaming.incremental import compact

    full, base, extra = corpus
    store = IndexStore(tmp_path_factory.mktemp("cmp_rm"))
    build_index(
        spark, full, store, docs_per_shard=64,
    )
    remove_documents(spark, store, extra.select("repo", "path", "commit"))
    gen_before = store.current_gen()
    assert (Path(store.root) / gen_before / "_refs.json").exists()
    before = _decoded_index(spark, store)
    q_before = [
        (r["doc_id"], r["score"])
        for r in SearchEngine(spark, store)
        .search("import def", k=10, with_meta=False).collect()
    ]

    gen = compact(spark, store)
    assert store.current_gen() == gen
    assert not (Path(store.root) / gen / "_refs.json").exists()
    bmeta = _json.loads((Path(store.root) / gen / "_buckets.json").read_text())
    assert "postings" in bmeta and "norms" in bmeta

    after = _decoded_index(spark, store)
    assert before.equals(after)
    eng = SearchEngine(spark, store)
    q_after = [
        (r["doc_id"], r["score"])
        for r in eng.search("import def", k=10, with_meta=False).collect()
    ]
    assert q_before == q_after
    plan = (
        eng.search("import def", k=10, with_meta=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert eng.doc_map.count() == N0
    assert verify_consistency(spark, store) == {
        "orphan_doc_ids": 0, "inconsistent_terms": 0,
    }


def test_changelog_spans_compose_over_random_histories(
    spark, tmp_path_factory
):
    """Property test (round-3 verdict item 8): for ANY history of
    ADD/REMOVE/compact commits and ANY generation span (i, j), the
    changelog equals the pure set difference of the two memberships —
    adds = members(j) - members(i), removes = members(i) - members(j) —
    regardless of how many intermediate commits re-added, re-removed, or
    rewrote files in between.  Fixed-sequence coverage exists above; this
    drives a seeded random walk."""
    from strucmotif_search_spark.streaming.incremental import (
        compact,
        generation_changes,
    )

    rng = np.random.default_rng(31)
    universe = generate_corpus(spark, 90, seed=31, partitions=4).cache()
    keys = [
        (r["repo"], r["path"], r["commit"])
        for r in universe.select("repo", "path", "commit")
        .orderBy("repo", "path", "commit").collect()
    ]
    key_df = {
        k: universe.where(
            (F.col("repo") == k[0]) & (F.col("path") == k[1])
            & (F.col("commit") == k[2])
        )
        for k in keys
    }

    def subset_df(sub):
        dfs = [key_df[k] for k in sub]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    store = IndexStore(tmp_path_factory.mktemp("cdc_prop"))
    members = set(keys[:60])
    build_index(
        spark, subset_df(sorted(members)), store, docs_per_shard=16,
    )
    history = [(store.current_gen(), frozenset(members))]

    for _ in range(6):
        op = rng.choice(["add", "remove", "compact"])
        absent = sorted(set(keys) - members)
        present = sorted(members)
        if op == "add" and absent:
            pick = [absent[i] for i in rng.choice(
                len(absent), size=min(len(absent), 10), replace=False
            )]
            add_documents(spark, store, subset_df(pick))
            members |= set(pick)
        elif op == "remove" and len(present) > 12:
            pick = [present[i] for i in rng.choice(
                len(present), size=8, replace=False
            )]
            remove_documents(
                spark, store, subset_df(pick).select("repo", "path", "commit")
            )
            members -= set(pick)
        else:
            compact(spark, store)
        history.append((store.current_gen(), frozenset(members)))

    # every span (i, j), i < j — including spans that cross compactions
    for i in range(len(history)):
        for j in range(i + 1, len(history)):
            gi, mi = history[i]
            gj, mj = history[j]
            ch = generation_changes(spark, store, gi, gj).collect()
            got_add = {
                (r["repo"], r["path"], r["commit"])
                for r in ch if r["op"] == "add"
            }
            got_rm = {
                (r["repo"], r["path"], r["commit"])
                for r in ch if r["op"] == "remove"
            }
            assert got_add == set(mj - mi), (i, j)
            assert got_rm == set(mi - mj), (i, j)


# ---------------------------------------------------------------------------
# generation expiry (Iceberg expire_snapshots analogue)
# ---------------------------------------------------------------------------

def test_expire_keeps_referenced_chain_and_current(spark, tmp_path_factory):
    import json
    from pathlib import Path

    from strucmotif_search_spark.corpus import generate_corpus
    from strucmotif_search_spark.engine import SearchEngine
    from strucmotif_search_spark.streaming.incremental import (
        add_documents, compact,
    )

    root = tmp_path_factory.mktemp("expire")
    store = IndexStore(root)
    base = generate_corpus(spark, 120, seed=11, partitions=4)
    build_index(
        spark, base, store, docs_per_shard=16,
    )
    gen1 = store.current_gen()
    add_documents(spark, store, generate_corpus(spark, 30, seed=12, partitions=2))
    gen2 = store.current_gen()
    # gen2 references gen1's files: expiry must remove NOTHING
    assert store.expire_generations() == []
    assert (Path(root) / gen1).exists()

    compact(spark, store)
    gen3 = store.current_gen()
    assert store.referenced_gens() == {gen3}  # compact folds refs away
    # an in-flight NEWER gen dir must survive expiry
    inflight = store.new_gen()
    removed = store.expire_generations()
    assert sorted(removed) == sorted([gen1, gen2])
    assert not (Path(root) / gen1).exists()
    assert (Path(root) / gen3).exists()
    assert (Path(root) / inflight).exists()

    # post-expiry queries still answer (nothing reachable was removed)
    eng = SearchEngine(spark, store)
    assert eng.search("import", k=5, with_meta=False).count() == 5
    # expiry is recorded in the lineage WAL
    events = [e for e in store.lineage() if e.get("stage") == "expire"]
    assert events and sorted(events[-1]["removed"]) == sorted([gen1, gen2])


def test_expire_keep_last_retention(spark, tmp_path_factory):
    from strucmotif_search_spark.corpus import generate_corpus
    from strucmotif_search_spark.streaming.incremental import compact

    root = tmp_path_factory.mktemp("expire_keep")
    store = IndexStore(root)
    build_index(
        spark, generate_corpus(spark, 60, seed=13, partitions=2), store,
        docs_per_shard=16,
    )
    compact(spark, store)
    compact(spark, store)
    # three gens exist; two are expirable, keep_last=1 retains the newest
    removed = store.expire_generations(keep_last=1)
    assert len(removed) == 1
    assert store.expire_generations(keep_last=0) != []


def test_time_travel_pinned_generation(spark, corpus, tmp_path_factory):
    """Iceberg time-travel (VERSION AS OF): after an ADD commit, an engine
    pinned at the pre-ADD generation answers queries exactly as a
    from-scratch build over the base corpus — and refuses mutation."""
    full, base, extra = corpus
    store = IndexStore(tmp_path_factory.mktemp("tt"))
    build_index(spark, base, store, docs_per_shard=64)
    base_gen = store.current_gen()
    add_documents(spark, store, extra)
    assert store.current_gen() != base_gen

    # pinned engine == engine over a fresh base-only build, query for query
    store_fresh = IndexStore(tmp_path_factory.mktemp("tt_fresh"))
    build_index(
        spark, base, store_fresh, docs_per_shard=64,
    )
    pinned = SearchEngine(spark, store, gen=base_gen)
    fresh = SearchEngine(spark, store_fresh)
    assert pinned.gen == base_gen
    for q, mode in [("import", "or"), ("def for", "or"), ("import def", "and")]:
        got = [
            (r["doc_id"], r["score"])
            for r in pinned.search(q, k=10, mode=mode, with_meta=False).collect()
        ]
        exp = [
            (r["doc_id"], r["score"])
            for r in fresh.search(q, k=10, mode=mode, with_meta=False).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in exp]
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in exp], rtol=0, atol=1e-12
        )
    # terms/stats are the historical snapshot, not CURRENT's
    cur = SearchEngine(spark, store)
    assert pinned.doc_map.count() == N0
    assert cur.doc_map.count() == N0 + N_ADD
    # a pinned engine must refuse to mutate CURRENT
    with pytest.raises(ValueError, match="pinned"):
        pinned.delete_by_query("import")
    # unknown generation fails loudly
    with pytest.raises(FileNotFoundError):
        SearchEngine(spark, store, gen="gen-999999")


def test_changelog_and_snapshot_isolation(spark, corpus, tmp_path_factory):
    """generation_changes is the Iceberg CDC analogue, and an engine
    constructed before a commit keeps answering from its snapshot (readers
    never observe a concurrent REMOVE until they re-resolve CURRENT)."""
    from strucmotif_search_spark.streaming.incremental import (
        compact,
        generation_changes,
    )

    full, base, extra = corpus
    store = IndexStore(tmp_path_factory.mktemp("cdc"))
    build_index(spark, base, store, docs_per_shard=64)
    gen1 = store.current_gen()

    # snapshot isolation: engine constructed NOW, queried after the commits
    reader = SearchEngine(spark, store)
    before = [
        (r["doc_id"], r["score"])
        for r in reader.search("import def", k=10, with_meta=False).collect()
    ]

    add_documents(spark, store, extra)
    gen2 = store.current_gen()
    # changelog gen1 -> gen2: exactly the added docs, op='add'
    ch = generation_changes(spark, store, gen1, gen2).toPandas()
    assert set(ch["op"]) == {"add"} and len(ch) == N_ADD
    exp_keys = set(
        map(tuple, extra.select("repo", "path", "commit").toPandas().values)
    )
    assert set(map(tuple, ch[["repo", "path", "commit"]].values)) == exp_keys

    rm = extra.select("repo", "path", "commit").limit(20)
    remove_documents(spark, store, rm)
    gen3 = store.current_gen()
    ch2 = generation_changes(spark, store, gen2, gen3).toPandas()
    assert set(ch2["op"]) == {"remove"} and len(ch2) == 20

    # compaction changes files, not membership: empty changelog
    gen4 = compact(spark, store)
    assert generation_changes(spark, store, gen3, gen4).count() == 0
    # full span composes: adds minus the removed 20
    span = generation_changes(spark, store, gen1, gen4).toPandas()
    assert (span["op"] == "add").sum() == N_ADD - 20
    assert (span["op"] == "remove").sum() == 0

    # the pre-commit reader still answers from its snapshot, bit-identical
    after = [
        (r["doc_id"], r["score"])
        for r in reader.search("import def", k=10, with_meta=False).collect()
    ]
    assert after == before


def test_free_list_mint_base_avoids_collision(spark, tmp_path_factory):
    """Minting after a REMOVE that retired the HIGHEST doc_ids, with an ADD
    larger than the free list: fresh ids must start past the largest id
    ever used, never colliding with reused free ids (round-3 review bug:
    base was the surviving max, re-issuing the retired top ids)."""
    from strucmotif_search_spark.corpus import generate_corpus

    store = IndexStore(tmp_path_factory.mktemp("mint"))
    all_docs = generate_corpus(spark, 120, seed=41, partitions=4).cache()
    base = all_docs.limit(100)
    build_index(spark, base, store, docs_per_shard=16)
    eng0 = SearchEngine(spark, store)
    # retire the two HIGHEST doc_ids (their natural keys)
    top = (
        eng0.doc_map.orderBy(F.desc("doc_id")).limit(2)
        .select("repo", "path", "commit")
    )
    remove_documents(spark, store, top)
    # add 20 docs: 2 reuse the free ids, 18 mint fresh
    extra = all_docs.join(
        base.select("repo", "path", "commit"),
        on=["repo", "path", "commit"], how="left_anti",
    )
    add_documents(spark, store, extra)
    eng = SearchEngine(spark, store)
    dm = eng.doc_map.select("doc_id").toPandas()["doc_id"]
    assert dm.is_unique, "duplicate doc_ids minted"
    assert len(dm) == 98 + extra.count()
    assert verify_consistency(spark, store) == {
        "orphan_doc_ids": 0, "inconsistent_terms": 0,
    }
    all_docs.unpersist()


def test_add_after_remove_all(spark, tmp_path_factory):
    """REMOVE of every document empties doc_map/terms; a following ADD must
    mint from scratch instead of crashing on max(None)."""
    from strucmotif_search_spark.corpus import generate_corpus

    store = IndexStore(tmp_path_factory.mktemp("rm_all"))
    docs = generate_corpus(spark, 40, seed=43, partitions=2).cache()
    build_index(spark, docs, store, docs_per_shard=16)
    remove_documents(
        spark, store, docs.select("repo", "path", "commit")
    )
    assert SearchEngine(spark, store).doc_map.count() == 0
    fresh = generate_corpus(spark, 25, seed=44, partitions=2)
    add_documents(spark, store, fresh)
    eng = SearchEngine(spark, store)
    n_new = fresh.join(
        docs, on=["repo", "path", "commit"], how="left_anti"
    ).count()
    assert eng.doc_map.count() == fresh.count() == n_new + (
        fresh.count() - n_new
    )
    dm = eng.doc_map.select("doc_id").toPandas()["doc_id"]
    assert dm.is_unique
    assert verify_consistency(spark, store) == {
        "orphan_doc_ids": 0, "inconsistent_terms": 0,
    }
    assert eng.search("import", k=5, with_meta=False).count() > 0
    docs.unpersist()


def test_delete_by_query_compact_time_travel_triple(
    spark, corpus, tmp_path_factory
):
    """Triple composition of the three newest mutation paths (round-4
    verdict item 8): delete_by_query -> compact -> time travel.  The
    compacted survivors must answer bit-identically to a FROM-SCRATCH
    build over the survivor corpus, and an engine pinned at the pre-delete
    generation must keep answering with the deleted docs present."""
    from strucmotif_search_spark.streaming.incremental import compact

    full, base, extra = corpus
    store = IndexStore(tmp_path_factory.mktemp("triple"))
    build_index(
        spark, base, store, docs_per_shard=64,
    )
    gen1 = store.current_gen()
    eng1 = SearchEngine(spark, store)
    probe = "import return"

    def rows(engine, q=probe):
        hits = engine.search(q, k=20, mode="or", with_meta=True)
        return sorted(
            (r["repo"], r["path"], r["commit"], round(r["score"], 9))
            for r in hits.collect()
        )

    pre_delete = rows(eng1)
    n_def_pre = eng1.count_matches("def")
    assert n_def_pre > 0

    # 1. delete every doc containing 'def'
    eng1.delete_by_query("def", mode="or")
    eng2 = SearchEngine(spark, store)
    assert eng2.count_matches("def") == 0
    post_delete = rows(eng2)

    # 2. compact: membership (and answers) unchanged, files rewritten
    compact(spark, store)
    eng3 = SearchEngine(spark, store)
    assert eng3.count_matches("def") == 0
    assert rows(eng3) == post_delete

    # compacted survivors == from-scratch build over the survivor corpus
    # (natural-key level; internal doc_ids may differ between the builds)
    survivors = base.join(
        eng3.doc_map.select("repo", "path", "commit"),
        on=["repo", "path", "commit"],
        how="left_semi",
    )
    store_fresh = IndexStore(tmp_path_factory.mktemp("triple_fresh"))
    build_index(
        spark, survivors, store_fresh,
        docs_per_shard=64,
    )
    eng_fresh = SearchEngine(spark, store_fresh)
    assert rows(eng_fresh) == post_delete
    assert eng_fresh.doc_map.count() == eng3.doc_map.count()

    # 3. time travel: pinned at gen1, the deleted docs are still there and
    # answers are bit-identical to the pre-delete snapshot
    tt = SearchEngine(spark, store, gen=gen1)
    assert rows(tt) == pre_delete
    assert tt.count_matches("def") == n_def_pre


def test_random_mutation_history_equals_rebuild(
    spark, corpus, tmp_path_factory
):
    """Randomized fuzz over the FULL mutation surface: a random sequence of
    ADD / REMOVE / delete_by_query / compact applied to one store must,
    after every membership-changing step, answer a probe query identically
    (natural-key level, full match set — k larger than the corpus so no
    k-boundary tie sensitivity) to a FROM-SCRATCH build over the expected
    survivor set; and every recorded snapshot must still answer pinned
    (time travel) with unchanged rows at the END of the history."""
    import random

    from strucmotif_search_spark.oracle import tokenize
    from strucmotif_search_spark.streaming.incremental import compact
    rng = random.Random(20260821)
    full, base, extra = corpus
    rows = {
        (r["repo"], r["path"], r["commit"]): r
        for r in full.collect()
    }
    base_keys = {
        (r["repo"], r["path"], r["commit"]) for r in base.collect()
    }
    extra_keys = sorted(set(rows) - base_keys)

    store = IndexStore(tmp_path_factory.mktemp("fuzzhist"))
    build_index(
        spark, base, store, docs_per_shard=64,
    )
    member = set(base_keys)
    pool = list(extra_keys)
    probe = "import return"

    def df_for(keys):
        return spark.createDataFrame(
            [rows[k] for k in sorted(keys)], full.schema
        )

    def hits(engine):
        got = engine.search(probe, k=1000, mode="or", with_meta=True)
        return sorted(
            (r["repo"], r["path"], r["commit"], round(r["score"], 9))
            for r in got.collect()
        )

    snapshots = []  # (gen_id, rows at commit time)

    def checkpoint():
        eng = SearchEngine(spark, store)
        got = hits(eng)
        store_ref = IndexStore(tmp_path_factory.mktemp("fuzzref"))
        build_index(
            spark, df_for(member), store_ref,
            docs_per_shard=64,
        )
        want = hits(SearchEngine(spark, store_ref))
        assert got == want, f"divergence at step {len(snapshots)}"
        snapshots.append((store.current_gen(), got))

    ops = ["add", "remove", "dbq", "add", "compact", "remove"]
    rng.shuffle(ops)
    for op in ops:
        if op == "add" and pool:
            n = rng.randint(5, min(25, len(pool)))
            batch = [pool.pop() for _ in range(n)]
            add_documents(spark, store, df_for(batch))
            member |= set(batch)
        elif op == "remove" and len(member) > 80:
            batch = set(rng.sample(sorted(member), rng.randint(5, 20)))
            remove_documents(
                spark, store,
                df_for(batch).select("repo", "path", "commit"),
            )
            member -= batch
        elif op == "dbq":
            # pick a term present in some member but not catastrophic:
            # the rarest token of a random member document
            doc = rows[rng.choice(sorted(member))]
            counts: dict[str, int] = {}
            for k in member:
                for t in set(tokenize(rows[k]["content"])):
                    counts[t] = counts.get(t, 0) + 1
            cands = sorted(
                set(tokenize(doc["content"])),
                key=lambda t: (counts.get(t, 0), t),
            )
            term = cands[0]
            matched = {
                k for k in member if term in tokenize(rows[k]["content"])
            }
            if not matched or len(member) - len(matched) < 60:
                continue
            SearchEngine(spark, store).delete_by_query(term, mode="or")
            member -= matched
        elif op == "compact":
            compact(spark, store)
        else:
            continue
        checkpoint()

    assert len(snapshots) >= 4
    # time travel: every recorded snapshot still answers bit-identically
    for gen_id, want in snapshots:
        got = hits(SearchEngine(spark, store, gen=gen_id))
        assert got == want, f"time-travel divergence at {gen_id}"
