"""Time both arms of the DAAT kernel (query/daat.py) on one plan family, or
both arms of an incremental commit (streaming/incremental.py), to place
and check ``daat.fits_driver``'s and ``incremental.fits_driver_commit``'s
bounds.

    python tools/arm_crossover.py INDEX_DIR DOCS DOCS_PER_SHARD \\
        volume 131072 262144 ...   # OR plans of the most frequent terms
    python tools/arm_crossover.py INDEX_DIR DOCS DOCS_PER_SHARD \\
        shards 32 64 ...           # one rare (df <= 2) term per shard
    python tools/arm_crossover.py INDEX_DIR DOCS DOCS_PER_SHARD \\
        msearch mid:2 head:32 ...  # msearch batches of two-term queries
    python tools/arm_crossover.py INDEX_DIR DOCS DOCS_PER_SHARD \\
        commit add:200 remove:100/1 remove:4000/20 ...
    python tools/arm_crossover.py INDEX_DIR DOCS DOCS_PER_SHARD \\
        commit-positions ...       # the same on a positional index
    python tools/arm_crossover.py INDEX_DIR DOCS DOCS_PER_SHARD \\
        commit-vocab ...           # each doc also holds 64 unique tokens

Builds ``generate_corpus(DOCS, seed=1)`` under INDEX_DIR on first use.  A
plan family prints one JSON line per plan: its shard count, terms,
postings (volume), touched shards, ``daat.driver_work``,
``daat.fits_driver`` and the median of 5 warm ``search().collect()`` per
arm.  For the volume family each target is the smallest top-df prefix
reaching it.

``msearch`` takes ``BAND:QUERIES`` targets: a batch of QUERIES OR queries
of two terms each, drawn in df order from the band (head: df >= 5% of the
docs; mid: 0.2% < df < 5%), and prints one JSON line per batch: the
summed postings of its plans, ``daat.driver_work`` and ``daat.fits_driver``
over every plan's dfs (the rule ``SearchEngine.msearch`` applies), and the
median of 5 warm ``msearch().collect()`` per arm.

``commit`` takes ``add:ROWS`` (new documents, ``generate_corpus(ROWS,
seed=2)`` under fresh repo names) and ``remove:ROWS/SHARDS`` (ROWS indexed
documents spread evenly over the first SHARDS shards) and prints one JSON
line per commit: the index's docs and terms, the batch rows, the affected
shards and the docs they hold, ``commit_kb``, ``fits_driver_commit``, the
wall of the commit on each arm, each on a fresh copy of the index (driver
arm: median of 2 runs, one before and one after the Spark arm's run), and
the larger of the two driver runs' growth of this process's RSS.  Give
one commit per invocation for that growth to start from a fresh process.
"""

from __future__ import annotations

import json
import shutil
import os
import statistics
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from strucmotif_search_spark.build import IndexStore, build_index  # noqa: E402
from strucmotif_search_spark.corpus import generate_corpus  # noqa: E402
from strucmotif_search_spark.engine import SearchEngine  # noqa: E402
from strucmotif_search_spark.query import daat  # noqa: E402
from strucmotif_search_spark.session import get_spark  # noqa: E402
from strucmotif_search_spark.streaming import (  # noqa: E402
    incremental,
    local_commit,
)


def timed(call, on_driver: bool, reps: int = 5) -> float:
    """Median ms of ``reps`` warm ``call()`` on one arm."""
    rule = daat.fits_driver
    daat.fits_driver = lambda n_shards, dfs: on_driver
    try:
        call()  # warm
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            call()
            ts.append((time.perf_counter() - t0) * 1000)
    finally:
        daat.fits_driver = rule
    return statistics.median(ts)


def msearch_batches(eng: SearchEngine, n_docs: int, targets: list[str]) -> None:
    terms = eng.terms.select("term", "df").toPandas().sort_values(
        ["df", "term"], ascending=[False, True]
    )
    bands = {
        "head": terms[terms["df"] >= 0.05 * n_docs]["term"].tolist(),
        "mid": terms[
            (terms["df"] > 0.002 * n_docs) & (terms["df"] < 0.05 * n_docs)
        ]["term"].tolist(),
    }
    n_shards = eng.meta["n_shards"]
    for target in targets:
        band, n = target.split(":")
        pool = bands[band]
        queries = {
            f"q{i}": f"{pool[2 * i % len(pool)]} {pool[(2 * i + 1) % len(pool)]}"
            for i in range(int(n))
        }
        dfs = [df for q in queries.values() for df in eng.plan(q).dfs]

        def call():
            eng.msearch(queries, k=10).collect()

        driver = [timed(call, True)]
        spark_ms = timed(call, False)
        driver.append(timed(call, True))
        print(json.dumps({
            "target": target, "n_shards": n_shards, "volume": sum(dfs),
            "work": daat.driver_work(n_shards, dfs),
            "fits_driver": daat.fits_driver(n_shards, dfs),
            "driver_ms": round(statistics.median(driver), 1),
            "spark_ms": round(spark_ms, 1),
        }), flush=True)


def plans(eng: SearchEngine, family: str, targets: list[int]) -> list[list[str]]:
    if family == "volume":
        top = (
            eng.terms.select("term", "df").toPandas()
            .sort_values(["df", "term"], ascending=[False, True])
        )
        terms, csum = top["term"].tolist(), top["df"].cumsum().tolist()
        return [
            terms[: next(i + 1 for i, c in enumerate(csum) if c >= v)]
            for v in targets if csum and csum[-1] >= v
        ]
    rare = eng.terms.where(F.col("df") <= 2).select("term", "term_id")
    first_shard = (
        eng.postings.join(rare, "term_id")
        .groupBy("term").agg(F.min("shard").alias("shard"))
        .toPandas().sort_values(["shard", "term"])
        .groupby("shard")["term"].first().tolist()
    )
    return [first_shard[:s] for s in targets]


def commit_batch(spark, eng: SearchEngine, target: str):
    """(commit function, batch frame) for one ``commit`` target."""
    kind, size = target.split(":")
    if kind == "add":
        docs = generate_corpus(spark, int(size), seed=2)
        return incremental.add_documents, docs.withColumn(
            "repo", F.concat(F.lit("added/"), "repo")
        ).cache()
    rows, shards = (int(x) for x in size.split("/"))
    dm = eng.doc_map.select("repo", "path", "commit", "shard").toPandas()
    picked = (
        dm[dm["shard"] < shards].sort_values(["repo", "path", "commit"])
        .groupby("shard").head(-(-rows // shards)).head(rows)
    )
    return incremental.remove_documents, spark.createDataFrame(
        picked[["repo", "path", "commit"]]
    ).cache()


def _rss_mb() -> float:
    """This (driver) process's resident set, in MB (Linux ``statm``)."""
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


class _PeakRss:
    """The driver process's peak resident set above its level at entry,
    sampled every 5 ms while the block runs (the Spark JVM is another
    process and is not counted)."""

    def __enter__(self):
        self.base = self.peak = _rss_mb()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def _sample(self):
        while not self._stop.wait(0.005):
            self.peak = max(self.peak, _rss_mb())

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _rss_mb())

    @property
    def grown_mb(self) -> float:
        return self.peak - self.base


def timed_commit(spark, root: str, fn, batch, on_driver: bool) -> tuple:
    """Wall ms of one commit on a fresh copy of the index at ``root``, its
    ``done`` lineage event and the driver process's RSS growth (MB)."""
    copy = f"{root}.commit-copy"
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(root, copy)
    rule, bound = incremental.fits_driver_commit, incremental.DRIVER_KB
    incremental.fits_driver_commit = lambda *a: on_driver
    # lift the bound too: it also caps the rows the driver arm collects
    incremental.DRIVER_KB = 2**30 if on_driver else bound
    try:
        store = IndexStore(copy)
        with _PeakRss() as rss:
            t0 = time.perf_counter()
            fn(spark, store, batch)
            ms = (time.perf_counter() - t0) * 1000
    finally:
        incremental.fits_driver_commit = rule
        incremental.DRIVER_KB = bound
    done = store.lineage()[-1]
    shutil.rmtree(copy, ignore_errors=True)
    return ms, done, rss.grown_mb


def commits(spark, root: str, eng: SearchEngine, targets: list[str]) -> None:
    store = IndexStore(root)
    meta = store.meta(eng.gen)
    n_docs = eng._stats_row["n_docs"]
    n_terms = local_commit.count_rows(store, "terms", eng.gen)
    wp = bool(meta.get("with_positions"))
    for target in targets:
        fn, batch = commit_batch(spark, eng, target)
        pdf = batch.select("repo", "path", "commit", *(
            ["lang", "content"] if fn is incremental.add_documents else []
        )).toPandas()
        placed = (
            local_commit.LocalAdd(store, eng.gen, meta, pdf, "content")
            if fn is incremental.add_documents
            else local_commit.LocalRemove(store, eng.gen, meta, pdf)
        )
        rows, held = len(pdf), placed.affected_docs
        driver = [timed_commit(spark, root, fn, batch, True)]
        spark_ms, done, _rss = timed_commit(spark, root, fn, batch, False)
        driver.append(timed_commit(spark, root, fn, batch, True))
        assert done["arm"] == "spark"
        assert all(d["arm"] == "driver" for _ms, d, _rss in driver), driver
        print(json.dumps({
            "target": target, "n_docs": n_docs, "rows": rows,
            "affected_shards": len(placed.affected), "affected_docs": held,
            "n_terms": n_terms,
            "commit_kb": incremental.commit_kb(n_docs, n_terms, rows, held, wp),
            "fits_driver_commit": incremental.fits_driver_commit(
                n_docs, n_terms, rows, held, wp
            ),
            "driver_ms": round(statistics.median(ms for ms, _d, _r in driver)),
            "spark_ms": round(spark_ms),
            "driver_rss_mb": round(max(r for _ms, _d, r in driver)),
        }), flush=True)
        batch.unpersist()


def with_unique_tokens(docs, per_doc: int):
    """``docs`` with ``per_doc`` tokens no other doc holds appended to each
    content: a large vocabulary at a small doc count."""
    i = F.monotonically_increasing_id().cast("string")
    extra = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(0), F.lit(per_doc - 1)),
        lambda j: F.concat(F.lit("u"), i, F.lit("x"), j.cast("string")),
    ))
    return docs.withColumn("content", F.concat_ws(" ", "content", extra))


def main() -> None:
    root, n, dps, family = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
    spark = get_spark(
        "arm-crossover", cores=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    store = IndexStore(root)
    if store.current_gen() is None:
        docs = generate_corpus(spark, n, seed=1)
        if family == "commit-vocab":
            docs = with_unique_tokens(docs, 64)
        build_index(
            spark, docs, store, docs_per_shard=dps,
            with_positions=family == "commit-positions",
        )
    eng = SearchEngine(spark, store)
    if family.startswith("commit"):
        commits(spark, root, eng, sys.argv[5:])
        spark.stop()
        return
    if family == "msearch":
        msearch_batches(eng, n, sys.argv[5:])
        spark.stop()
        return
    n_shards = eng.meta["n_shards"]
    for terms in plans(eng, family, [int(x) for x in sys.argv[5:]]):
        query = " ".join(terms)
        dfs = eng.plan(query).dfs
        blocks = eng._local_blocks(
            sorted(t for t, _df in eng._vocab_lookup(terms).values())
        )

        def call():
            eng.search(query, k=10).collect()

        driver = [timed(call, True)]
        spark_ms = timed(call, False)
        driver.append(timed(call, True))
        print(json.dumps({
            "n_shards": n_shards, "terms": len(terms), "volume": sum(dfs),
            "touched": int(blocks["shard"].nunique()),
            "work": daat.driver_work(n_shards, dfs),
            "fits_driver": daat.fits_driver(n_shards, dfs),
            "driver_ms": round(statistics.median(driver), 1),
            "spark_ms": round(spark_ms, 1),
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
