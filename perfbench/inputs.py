"""Seeded inputs: corpus, query mix, ADD and REMOVE batches.

Everything here is a pure function of the workload seed (and, for the query
mix, of the df table of the index built from that seed's corpus), so two
runs with one seed drive the engine with identical inputs.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd

# The query mix is one block of templates, sent in a seeded order, block
# after block.  Ten templates are the classes of the repository's reference
# query set (FIXTURES.md section 4, as bench.py's QUERY_SUITE runs it), one
# each; three more add the MUST+SHOULD, exclude and expansions shapes, each
# a variant of the two-mid-term query q03.  Bands name the df band a term is
# drawn from; "absent" terms are not in the vocabulary.  Recorded in NOTES.md
# with the reason for each weight.
BLOCK_TEMPLATES = [
    {"name": "q01_rare_single", "shape": "or", "k": 10, "bands": ["tail"]},
    {"name": "q02_head_term", "shape": "or", "k": 10, "bands": ["head"]},
    {"name": "q03_two_mid", "shape": "or", "k": 10, "bands": ["mid", "mid"]},
    {"name": "q04_rare_plus_head", "shape": "and", "k": 10,
     "bands": ["tail", "head"]},
    {"name": "q05_five_mid", "shape": "or", "k": 10, "bands": ["mid"] * 5},
    {"name": "q06_absent", "shape": "or", "k": 10, "bands": ["absent"]},
    {"name": "q07_repeated", "shape": "or", "k": 10, "bands": ["head"],
     "repeat": 3},
    {"name": "q08_all_head", "shape": "or", "k": 10, "bands": ["head"] * 3},
    # the suite's large-k class uses k=10000; the mix's k set stops at 1000
    {"name": "q09_large_k", "shape": "or", "k": 1000, "bands": ["mid", "mid"]},
    {"name": "q10_and_five", "shape": "and", "k": 10, "bands": ["mid"] * 5},
    # added shapes: q03 plus one clause; k=100 (assumed, no recorded share)
    {"name": "s1_must_should", "shape": "must_should", "k": 100,
     "bands": ["mid", "mid"], "extra": "head"},
    {"name": "s2_exclude", "shape": "exclude", "k": 100,
     "bands": ["mid", "mid"], "extra": "head"},
    {"name": "s3_expansions", "shape": "expansions", "k": 100,
     "bands": ["mid", "mid"], "extra": "mid"},
]
BLOCK = len(BLOCK_TEMPLATES)  # queries per block
PROBE_TEMPLATE = {"name": "probe", "shape": "or", "k": 100,
                  "bands": ["head", "mid", "tail"]}
# df thresholds, as shares of the document count
HEAD_MIN_SHARE = 0.05
TAIL_MAX_SHARE = 0.002

KEY = ["repo", "path", "commit"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose)."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def add_seed(seed: int) -> int:
    """The ADD corpus comes from a corpus seed no workload seed can equal."""
    return 1_000_000_007 + seed


def corpus_hash(pdf: pd.DataFrame) -> str:
    """Order-independent content hash of a corpus table."""
    rows = pdf.sort_values(KEY)[KEY + ["lang", "content"]]
    h = hashlib.sha256()
    for row in rows.itertuples(index=False):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def content_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["content"].map(lambda s: len(s.encode())).sum())


def df_bands(term_df: dict[str, int], n_docs: int) -> dict[str, list[str]]:
    """Split the vocabulary into tail / mid / head bands by df."""
    head_min = max(2, int(n_docs * HEAD_MIN_SHARE))
    tail_max = max(1, int(n_docs * TAIL_MAX_SHARE))
    bands: dict[str, list[str]] = {"tail": [], "mid": [], "head": []}
    for term in sorted(term_df):
        df = term_df[term]
        band = ("head" if df >= head_min else
                "tail" if df <= tail_max else "mid")
        bands[band].append(term)
    empty = [b for b, terms in bands.items() if not terms]
    if empty:
        raise ValueError(f"empty df band(s) {empty} for {n_docs} docs")
    return bands


def _absent_term(rng: np.random.Generator, vocab: dict) -> str:
    while True:
        t = f"zq{int(rng.integers(1 << 40)):x}x"
        if t not in vocab:
            return t


def make_queries(
    seed: int, term_df: dict[str, int], n_docs: int, count: int
) -> list[dict]:
    """``count`` seeded search specs over the index's df distribution, in
    blocks of ``BLOCK_TEMPLATES``, each block in a seeded order.

    Each spec holds the keyword arguments of ``SearchEngine.search`` (and of
    ``oracle.bm25_topk``): ``query``, ``k``, ``mode``, ``should``,
    ``exclude`` and ``expansions``, plus the template ``name``, its
    ``shape`` and the ``bands`` its distinct query and SHOULD terms came
    from."""
    rng = _rng(seed, "queries")
    bands = df_bands(term_df, n_docs)

    def term(band: str) -> str:
        if band == "absent":
            return _absent_term(rng, term_df)
        pool = bands[band]
        return pool[int(rng.integers(len(pool)))]

    out = []
    while len(out) < count:
        for t in rng.permutation(BLOCK)[: count - len(out)]:
            out.append(_spec(BLOCK_TEMPLATES[t], term, rng))
    return out


def probe_query(seed: int, term_df: dict[str, int], n_docs: int) -> dict:
    """The search each ingest_maintain probe sends: one fixed shape, seeded
    terms, so probes differ only in the generation they run on."""
    rng = _rng(seed, "probe")
    bands = df_bands(term_df, n_docs)

    def term(band: str) -> str:
        return bands[band][int(rng.integers(len(bands[band])))]

    return _spec(PROBE_TEMPLATE, term, rng)


def _spec(tpl: dict, term, rng: np.random.Generator) -> dict:
    """A search spec for one template, terms drawn by ``term(band)``."""
    picked: list[str] = []

    def fresh(band: str) -> str:
        while (w := term(band)) in picked:
            pass
        picked.append(w)
        return w

    query = [fresh(band) for band in tpl["bands"]]
    shape = tpl["shape"]
    spec = {"name": tpl["name"], "shape": shape, "bands": list(tpl["bands"]),
            "k": tpl["k"], "mode": "and" if shape == "and" else "or",
            "query": " ".join(query * tpl.get("repeat", 1)), "should": None,
            "exclude": None, "expansions": None}
    if shape == "must_should":
        spec["should"] = fresh(tpl["extra"])
        spec["bands"].append(tpl["extra"])
    elif shape == "exclude":
        spec["exclude"] = fresh(tpl["extra"])
    elif shape == "expansions":
        target = query[int(rng.integers(len(query)))]
        spec["expansions"] = {target: [fresh(tpl["extra"])]}
    return spec


def queries_digest(queries: list[dict]) -> str:
    return hashlib.sha256(
        json.dumps(queries, sort_keys=True).encode()
    ).hexdigest()


def add_batches(pdf: pd.DataFrame, n_batches: int) -> list[pd.DataFrame]:
    """Split the ADD corpus into ``n_batches`` equal batches by sorted key,
    so the split depends on the seed only."""
    rows = pdf.sort_values(KEY).reset_index(drop=True)
    size = len(rows) // n_batches
    return [rows.iloc[b * size:(b + 1) * size] for b in range(n_batches)]


def org_of(repo: str) -> str:
    """The org part of a repo name: ``org3/repo5`` -> ``org3``."""
    return repo.rsplit("/", 1)[0]


def remove_keys(
    seed: int, batch: int, base: list[tuple[str, str, str]], live: set,
    n: int, shard: int, docs_per_shard: int,
) -> list[tuple[str, str, str]]:
    """REMOVE batch ``batch``: a seeded sample of ``n`` live keys, all from
    one seeded org of the base corpus ``base`` (a sorted key list) whose
    documents lie in shard ``shard``, the way deleting part of a project
    does.  The build gives each base document its key's sorted rank as doc
    id, so the batch rewrites that shard only, and every seed rewrites the
    same shards."""
    rng = _rng(seed, f"remove-{batch}")
    ranks: dict[str, list[int]] = {}
    for rank, key in enumerate(base):
        ranks.setdefault(org_of(key[0]), []).append(rank)
    orgs = sorted(
        o for o, rs in ranks.items()
        if {r // docs_per_shard for r in rs} == {shard}
        and sum(base[r] in live for r in rs) >= n)
    pool = [base[r] for r in ranks[orgs[int(rng.integers(len(orgs)))]]
            if base[r] in live]
    idx = rng.choice(len(pool), size=n, replace=False)
    return [pool[i] for i in sorted(idx.tolist())]
