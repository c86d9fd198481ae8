"""Cold-start golden fixture (round-4 verdict item 6): open the COMMITTED
index generation in tests/golden/ and match pinned answers WITHOUT
rebuilding — the analogue of the reference's checked-in index.data +
known.list integration fixtures (StructureIntegrationTest.java:151-204).

The fixture's built generation is followed by an ADD and a REMOVE
generation (a `_refs.json` chain with excluded shards, written by the
driver commit arm) and a ``compact`` that folds the chain into one
bucketed generation; each generation's answers are pinned, and each is
opened by a fresh engine, which reads its files only when a query needs
them.

The other direction: ``test_rebuild_writes_the_committed_bytes`` reruns
the fixture's history (``tools/make_golden_index.py``'s ``write_history``)
into a temporary store, on each commit arm, and requires every table of
every generation to equal the committed one, binary payloads byte for
byte — so a codec change whose own output still round-trips, but whose
bytes differ, fails here.

If this fails after an intentional format change, regenerate with
``python tools/make_golden_index.py`` and commit the new bytes loudly.
"""

import json
import os
import sys
from pathlib import Path

import pyarrow.dataset as ds
import pytest

from strucmotif_search_spark.engine import SearchEngine

GOLDEN = os.path.join(os.path.dirname(__file__), "golden")
TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
TABLES = ("doc_map", "terms", "stats", "norms", "postings", "free_ids")


@pytest.fixture(scope="module")
def golden(spark):
    from strucmotif_search_spark.build import IndexStore

    if not os.path.isdir(os.path.join(GOLDEN, "index")):
        pytest.skip("golden fixture not generated yet")
    with open(os.path.join(GOLDEN, "expected.json")) as f:
        expected = json.load(f)
    store = IndexStore(os.path.join(GOLDEN, "index"))
    return spark, store, expected


def _pinned(golden, gen):
    """(engine opened at ``gen``, that generation's pins)."""
    spark, store, expected = golden
    pins = expected if gen == expected["generation"] else next(
        g for g in expected["incremental"] if g["generation"] == gen
    )
    return SearchEngine(spark, store, gen=gen), pins


def test_golden_generation_pointer(golden):
    spark, store, expected = golden
    eng = SearchEngine(spark, store, gen=expected["generation"])
    assert eng.gen == "gen-000001"
    assert [
        (g["generation"], g["op"]) for g in expected["incremental"]
    ] == [
        ("gen-000002", "add"), ("gen-000003", "remove"),
        ("gen-000004", "compact"),
    ]
    assert store.current_gen() == "gen-000004"
    # the REMOVE generation's postings span its own part and two refs,
    # each ref minus the shards a later commit rewrote; the compact folds
    # them into its own part alone
    parts = store.posting_parts("gen-000003")
    assert [excl for _p, excl in parts] == [[], [0], [0, 3, 4]]
    assert [excl for _p, excl in store.posting_parts("gen-000004")] == [[]]


def _check_stats(eng, pins):
    got = {
        k: (float(v) if k == "avgdl" else int(v))
        for k, v in eng.stats.first().asDict().items()
    }
    assert got == pins["stats"]
    assert eng._stats_row == eng.stats.first()


def _check_queries(eng, pins):
    for key, want in pins["queries"].items():
        q, mode, k = key.rsplit("|", 2)
        hits = eng.search(q, k=int(k), mode=mode, with_meta=True)
        got = [
            [r["repo"], r["path"], r["commit"], round(r["score"], 9)]
            for r in hits.collect()
        ]
        assert got == [list(w) for w in want], key


def _check_phrase(eng, pins):
    ph = eng.phrase_search("import numpy", k=100).join(
        eng.doc_map.select("doc_id", "path"), on="doc_id"
    )
    got = sorted([r["path"], int(r["phrase_tf"])] for r in ph.collect())
    assert got == [list(w) for w in pins["phrase"]]


def test_golden_stats(golden):
    _check_stats(*_pinned(golden, "gen-000001"))


def test_golden_query_pins(golden):
    """Every pinned query answers bit-identically from the committed bytes
    (scores pinned to 9 decimals — float64 BM25 is deterministic here)."""
    _check_queries(*_pinned(golden, "gen-000001"))


def test_golden_phrase_pin(golden):
    """The committed position payloads decode to the pinned phrase counts
    (guards the positional codec specifically)."""
    _check_phrase(*_pinned(golden, "gen-000001"))


@pytest.mark.parametrize("gen", ["gen-000002", "gen-000003", "gen-000004"])
def test_golden_incremental_pins(golden, gen):
    """The ADD and REMOVE generations answer their pins from the committed
    refs chain, and the compact from its folded generation: stats, queries
    and the phrase over repacked positions."""
    eng, pins = _pinned(golden, gen)
    _check_stats(eng, pins)
    _check_queries(eng, pins)
    _check_phrase(eng, pins)


def _generation(root: Path, gen: str) -> dict:
    """Every table of ``gen`` as (column names and Arrow types, rows
    sorted; binary cells compare byte for byte), plus its ``_refs.json``
    (``_meta.json`` is left out: the committed one carries layout fields
    that later builds no longer write)."""
    out = {}
    for name in TABLES:
        if (root / gen / name).exists():
            table = ds.dataset(str(root / gen / name), format="parquet").to_table()
            out[name] = (
                [(f.name, f.type) for f in table.schema],
                sorted((tuple(r.values()) for r in table.to_pylist()), key=repr),
            )
    if (root / gen / "_refs.json").exists():
        out["_refs"] = json.loads((root / gen / "_refs.json").read_text())
    return out


@pytest.mark.parametrize("arm", ["driver", "spark"])
def test_rebuild_writes_the_committed_bytes(spark, tmp_path, request, arm):
    """The fixture's build, ADD, REMOVE and compact rerun now write every
    committed table again: the guard on the encoders, as the pins are on
    the decoders."""
    if arm == "spark":
        request.getfixturevalue("spark_commit_arm")
    sys.path.insert(0, TOOLS)
    import make_golden_index

    store = make_golden_index.write_history(spark, str(tmp_path / "index"))
    assert [e["arm"] for e in store.lineage() if "arm" in e][-1] == arm
    committed = Path(GOLDEN) / "index"
    gens = sorted(p.name for p in committed.glob("gen-*"))
    assert gens == ["gen-000001", "gen-000002", "gen-000003", "gen-000004"]
    assert sorted(p.name for p in store.root.glob("gen-*")) == gens
    for gen in gens:
        want = _generation(committed, gen)
        assert set(want) >= set(TABLES[:5]), gen
        assert _generation(store.root, gen) == want, gen
