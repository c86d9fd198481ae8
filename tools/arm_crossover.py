"""Time one plan family on both arms of the DAAT kernel (query/daat.py), to
place and check ``daat.fits_driver``'s bound.

    python tools/arm_crossover.py INDEX_DIR DOCS DOCS_PER_SHARD \\
        volume 131072 262144 ...   # OR plans of the most frequent terms
    python tools/arm_crossover.py INDEX_DIR DOCS DOCS_PER_SHARD \\
        shards 32 64 ...           # one rare (df <= 2) term per shard

Builds ``generate_corpus(DOCS, seed=1)`` under INDEX_DIR on first use, then
prints one JSON line per plan: its shard count, terms, postings (volume),
touched shards, ``daat.driver_work``, ``daat.fits_driver`` and the median of
5 warm ``search().collect()`` per arm.  For the volume family each target is
the smallest top-df prefix reaching it.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from strucmotif_search_spark.build import IndexStore, build_index  # noqa: E402
from strucmotif_search_spark.corpus import generate_corpus  # noqa: E402
from strucmotif_search_spark.engine import SearchEngine  # noqa: E402
from strucmotif_search_spark.query import daat  # noqa: E402
from strucmotif_search_spark.session import get_spark  # noqa: E402


def timed(eng: SearchEngine, query: str, on_driver: bool, reps: int = 5) -> float:
    rule = daat.fits_driver
    daat.fits_driver = lambda n_shards, dfs: on_driver
    try:
        eng.search(query, k=10).collect()  # warm
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            eng.search(query, k=10).collect()
            ts.append((time.perf_counter() - t0) * 1000)
    finally:
        daat.fits_driver = rule
    return statistics.median(ts)


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


def main() -> None:
    root, n, dps, family = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
    targets = [int(x) for x in sys.argv[5:]]
    spark = get_spark(
        "arm-crossover", cores=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    store = IndexStore(root)
    if store.current_gen() is None:
        build_index(
            spark, generate_corpus(spark, n, seed=1), store, docs_per_shard=dps
        )
    eng = SearchEngine(spark, store)
    n_shards = eng.meta["n_shards"]
    for terms in plans(eng, family, targets):
        query = " ".join(terms)
        dfs = eng.plan(query).dfs
        blocks = eng._local_blocks(
            sorted(t for t, _df in eng._vocab_lookup(terms).values())
        )
        driver = [timed(eng, query, True)]
        spark_ms = timed(eng, query, False)
        driver.append(timed(eng, query, True))
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
