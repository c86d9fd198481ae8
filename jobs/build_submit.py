"""spark-submit entry point: build an index generation (and optionally run a
smoke query) on whatever cluster ``spark-submit`` was pointed at.

The north rule requires the complete system to "run via spark-submit
--py-files on multi-executor clusters".  This is that driver program — no
assumptions about the master: local[N], a standalone cluster
(spark://host:port), YARN or k8s all work, because the session is obtained
from spark-submit's own configuration (SparkSession.builder.getOrCreate())
and the library arrives through ``--py-files strucmotif_search_spark.zip``
(built by tools/make_pyfiles.py).

    spark-submit --master spark://127.0.0.1:7077 \
        --py-files dist/strucmotif_search_spark.zip \
        jobs/build_submit.py \
        --source /data/corpus.parquet --index-root /data/index \
        --docs-per-shard 8192 [--with-positions] \
        [--resume-gen gen-000001] --query "hash join" --k 10

A build killed part-way is resumed by rerunning the same command with
``--resume-gen`` set to the generation it was writing: stages already logged
done in the index's lineage WAL are skipped and the scratch run spill is
reused while it exists.

Prints ONE JSON line with build metrics (and query results when --query is
given) so callers/schedulers can parse the outcome.  Reference analogue: the
reference's update CLI (update/StrucmotifUpdate.java:73-75) is its
equivalent batch entry point.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", required=True,
                    help="parquet path of (repo,path,commit,lang,content)")
    ap.add_argument("--index-root", required=True,
                    help="directory for the IndexStore (generations+CURRENT)")
    ap.add_argument("--docs-per-shard", type=int, default=8192)
    ap.add_argument("--with-positions", action="store_true")
    ap.add_argument("--resume-gen", default=None,
                    help="resume an interrupted build of this generation: "
                         "stages it logged done are skipped and its run "
                         "spill is reused")
    ap.add_argument("--query", default=None,
                    help="optional smoke query to run after the build")
    ap.add_argument("--mode", default="or", choices=["or", "and"])
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args(argv)

    # session comes from spark-submit's conf (master, executors, memory,
    # --py-files distribution) — the job itself is deployment-agnostic
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("smsp-build").getOrCreate()

    from strucmotif_search_spark.build import IndexStore, build_index
    from strucmotif_search_spark.engine import SearchEngine

    docs = spark.read.parquet(args.source)
    n_docs = docs.count()
    store = IndexStore(args.index_root)
    t0 = time.time()
    gen = build_index(
        spark,
        docs,
        store,
        docs_per_shard=args.docs_per_shard,
        with_positions=args.with_positions,
        gen=args.resume_gen,
    )
    build_sec = time.time() - t0
    out = {
        "gen": gen,
        "n_docs": n_docs,
        "build_sec": round(build_sec, 3),
        "docs_per_sec": round(n_docs / build_sec, 1),
        # task slots, NOT executor count (local[N] -> N; standalone ->
        # cores.max): named truthfully so scaling evidence parsers don't
        # misread N-vs-4N executor counts off this field
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
    }
    if args.query:
        engine = SearchEngine(spark, store)
        hits = engine.search(
            args.query, k=args.k, mode=args.mode, with_meta=False
        ).collect()
        out["query"] = args.query
        out["hits"] = [
            {"doc_id": r["doc_id"], "score": round(r["score"], 6)}
            for r in hits
        ]
    spark.stop()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
