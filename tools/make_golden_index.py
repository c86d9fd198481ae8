"""Build the checked-in golden index fixture (round-4 verdict item 6).

The reference guards its on-disk format with checked-in binary fixtures the
tests open WITHOUT rebuilding (strucmotif-search-core
src/test/resources/index.data + known.list,
StructureIntegrationTest.java:151-204).  This script is the analogue: it
builds a tiny deterministic generation into tests/golden/index/ and records
pinned query answers in tests/golden/expected.json.  The fixture guards the
format in both directions: tests/test_golden_index.py opens the COMMITTED
bytes (a reader that no longer decodes them breaks the pins), and its
``test_rebuild_writes_the_committed_bytes`` reruns :func:`write_history`
into a temporary store and requires every table to equal the committed
one, payload bytes included (a writer whose bytes drift breaks it, even
when its own output still round-trips).

After the built generation (``gen-000001``) the script commits one ADD
(``gen-000002``) and one REMOVE (``gen-000003``), so the fixture also holds
a refs chain: postings that span `_refs.json` parts with excluded shards,
and the driver arm's pyarrow-written tables.  A ``compact`` then folds the
chain into one bucketed generation (``gen-000004``).  Each generation's
answers are pinned.

Rerun (only when the format changes ON PURPOSE; commit the diff loudly):

    python tools/make_golden_index.py            # keep gen-000001, redo the rest
    python tools/make_golden_index.py --rebuild  # rebuild gen-000001 too

Without ``--rebuild`` the committed ``gen-000001`` files and pins are kept
byte for byte and only the later generations are rewritten.
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
BASE_GEN = "gen-000001"
ADD_DOCS = 12        # new documents under fresh repo names
# REMOVE every 4th of the first 16 built documents in key order: 4 docs,
# all of shard 0 (the build gives each document its key's rank as doc id)
REMOVE_KEYS = slice(0, 16, 4)


def pins(eng) -> dict:
    """A generation's pinned answers: the query pins, the phrase pin and
    the stats row."""
    out: dict = {"queries": {}}
    for q, mode, k in QUERIES:
        hits = eng.search(q, k=k, mode=mode, with_meta=True)
        out["queries"][f"{q}|{mode}|{k}"] = [
            [r["repo"], r["path"], r["commit"], round(r["score"], 9)]
            for r in hits.collect()
        ]
    ph = eng.phrase_search(PHRASE, k=100).join(
        eng.doc_map.select("doc_id", "path"), on="doc_id"
    )
    out["phrase"] = sorted(
        [r["path"], int(r["phrase_tf"])] for r in ph.collect()
    )
    out["stats"] = {
        k: (float(v) if k == "avgdl" else int(v))
        for k, v in eng.stats.first().asDict().items()
    }
    return out


def reset_to_base(idx_root: str) -> None:
    """Drop every generation after ``BASE_GEN`` and its lineage events,
    and point CURRENT back at it; ``BASE_GEN``'s files stay as they are."""
    for name in os.listdir(idx_root):
        if name.startswith("gen-") and name != BASE_GEN:
            shutil.rmtree(os.path.join(idx_root, name))
    lineage = os.path.join(idx_root, "_lineage.jsonl")
    with open(lineage) as f:
        kept = [line for line in f if json.loads(line).get("gen") == BASE_GEN]
    with open(lineage, "w") as f:
        f.writelines(kept)
    with open(os.path.join(idx_root, "CURRENT"), "w") as f:
        f.write(BASE_GEN + "\n")


def write_history(spark, idx_root: str, rebuild: bool = True):
    """Commit the fixture's history into ``idx_root``: build ``BASE_GEN``
    (``rebuild``; else keep it and drop what follows it), then the ADD,
    the REMOVE and the compact.  Returns the ``IndexStore``."""
    from pyspark.sql import functions as F

    from strucmotif_search_spark.build import IndexStore, build_index
    from strucmotif_search_spark.corpus import generate_corpus
    from strucmotif_search_spark.streaming.incremental import (
        add_documents,
        compact,
        remove_documents,
    )

    docs = generate_corpus(spark, N_DOCS, seed=SEED, partitions=4)
    if rebuild:
        shutil.rmtree(idx_root, ignore_errors=True)
        store = IndexStore(idx_root)
        # positional so the fixture also pins the position-payload codec
        build_index(
            spark, docs, store, docs_per_shard=16, with_positions=True,
        )
    else:
        reset_to_base(idx_root)
        store = IndexStore(idx_root)
    added = generate_corpus(spark, ADD_DOCS, seed=SEED + 1, partitions=1)
    add_documents(spark, store, added.withColumn(
        "repo", F.concat(F.lit("added/"), "repo")
    ))
    keys = sorted(
        (r["repo"], r["path"], r["commit"])
        for r in docs.select("repo", "path", "commit").collect()
    )[REMOVE_KEYS]
    remove_documents(spark, store, spark.createDataFrame(
        keys, "repo string, path string, commit string"
    ))
    compact(spark, store)
    return store


def main() -> None:
    sys.path.insert(0, ROOT)
    from strucmotif_search_spark.engine import SearchEngine
    from strucmotif_search_spark.session import get_spark

    spark = get_spark("golden", cores=4, shuffle_partitions=4)
    idx_root = os.path.join(GOLDEN, "index")
    expected_path = os.path.join(GOLDEN, "expected.json")
    rebuild = "--rebuild" in sys.argv[1:] or not os.path.isdir(
        os.path.join(idx_root, BASE_GEN)
    )
    os.makedirs(GOLDEN, exist_ok=True)
    store = write_history(spark, idx_root, rebuild)
    if rebuild:
        expected: dict = {
            "n_docs": N_DOCS, "seed": SEED, "generation": BASE_GEN,
            **pins(SearchEngine(spark, store, BASE_GEN)),
        }
    else:
        with open(expected_path) as f:
            expected = json.load(f)
    expected["incremental"] = [
        {"generation": gen, "op": op, **pins(SearchEngine(spark, store, gen))}
        for gen, op in zip(
            sorted(g for g in os.listdir(idx_root) if g.startswith("gen-"))[1:],
            ("add", "remove", "compact"),
        )
    ]

    with open(expected_path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    size = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, fs in os.walk(idx_root)
        for f in fs
    )
    print(f"golden index: {size / 1024:.0f} KiB at {idx_root}")
    print(f"expected.json: {len(expected['queries'])} query pins + phrase, "
          f"and {len(expected['incremental'])} incremental generations")
    spark.stop()


if __name__ == "__main__":
    main()
