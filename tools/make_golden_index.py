"""Build the checked-in golden index fixture (round-4 verdict item 6).

The reference guards its on-disk format with checked-in binary fixtures the
tests open WITHOUT rebuilding (strucmotif-search-core
src/test/resources/index.data + known.list,
StructureIntegrationTest.java:151-204).  This script is the analogue: it
builds a tiny deterministic generation into tests/golden/index/ and records
pinned query answers in tests/golden/expected.json;
tests/test_golden_index.py then opens the COMMITTED bytes each round — any
silent codec/layout drift breaks the pin even though a rebuild-and-query
round-trip would still pass.

Rerun (only when the format changes ON PURPOSE; commit the diff loudly):

    python tools/make_golden_index.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN = os.path.join(ROOT, "tests", "golden")

N_DOCS = 60          # sf0.001-sized: tiny enough to commit, real layout
SEED = 2026
QUERIES = [
    ("import def", "or", 10),
    ("value table", "and", 10),
    ("the", "or", 5),
]
PHRASE = "import numpy"


def main() -> None:
    sys.path.insert(0, ROOT)
    from strucmotif_search_spark.build import IndexStore, build_index
    from strucmotif_search_spark.corpus import generate_corpus
    from strucmotif_search_spark.engine import SearchEngine
    from strucmotif_search_spark.session import get_spark

    spark = get_spark("golden", cores=4, shuffle_partitions=4)
    idx_root = os.path.join(GOLDEN, "index")
    shutil.rmtree(idx_root, ignore_errors=True)
    os.makedirs(GOLDEN, exist_ok=True)

    docs = generate_corpus(spark, N_DOCS, seed=SEED, partitions=4)
    store = IndexStore(idx_root)
    # positional so the fixture also pins the position-payload codec
    build_index(
        spark, docs, store, docs_per_shard=16, with_positions=True,
    )

    eng = SearchEngine(spark, store)
    expected: dict = {
        "n_docs": N_DOCS,
        "seed": SEED,
        "generation": store.current_gen(),
        "queries": {},
    }
    for q, mode, k in QUERIES:
        hits = eng.search(q, k=k, mode=mode, with_meta=True)
        expected["queries"][f"{q}|{mode}|{k}"] = [
            [r["repo"], r["path"], r["commit"], round(r["score"], 9)]
            for r in hits.collect()
        ]
    ph = eng.phrase_search(PHRASE, k=100).join(
        eng.doc_map.select("doc_id", "path"), on="doc_id"
    )
    expected["phrase"] = sorted(
        [r["path"], int(r["phrase_tf"])] for r in ph.collect()
    )
    expected["stats"] = {
        k: (float(v) if k == "avgdl" else int(v))
        for k, v in eng.stats.first().asDict().items()
    }

    with open(os.path.join(GOLDEN, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    size = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, fs in os.walk(idx_root)
        for f in fs
    )
    print(f"golden index: {size / 1024:.0f} KiB at {idx_root}")
    print(f"expected.json: {len(expected['queries'])} query pins + phrase")
    spark.stop()


if __name__ == "__main__":
    main()
