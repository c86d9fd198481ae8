"""Fielded BM25 (query/fielded.py + SearchEngine.fielded_search) — weighted
content+field scoring checked bitwise against the in-memory oracle
(oracle.bm25f_topk), including field-only matches, AND-across-fields
containment, weights, and a second field column."""

import pytest

from strucmotif_search_spark.build import IndexStore, build_index
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.oracle import bm25f_topk, build_oracle

# paths are token-rich on purpose: 'planner', 'scan', 'table' appear in paths
# of docs whose CONTENT does not always contain them, so field-only matches
# and cross-field AND both occur; 'vector' exists ONLY in a path.
DOCS = [
    ("r0", "src/planner/query_plan.py", "c0", "py",
     "table scan over the query plan"),
    ("r0", "src/exec/table_scan.py", "c1", "py",
     "iterator yields rows batch by batch"),
    ("r0", "src/exec/hash_join.py", "c2", "py",
     "join build side probe side table"),
    ("r1", "lib/planner/cost.go", "c3", "go",
     "cost model estimates scan width"),
    ("r1", "lib/vector/dot.go", "c4", "go",
     "fused multiply add loop unrolled"),
    ("r1", "lib/scan/parquet_reader.go", "c5", "go",
     "reads parquet row groups into arrow"),
    ("r2", "app/table/render.js", "c6", "js",
     "renders the table grid with scan lines"),
    ("r2", "app/util/strings.js", "c7", "js",
     "lowercase trim split join helpers"),
]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    store = IndexStore(tmp_path_factory.mktemp("fielded"))
    docs = spark.createDataFrame(
        DOCS,
        "repo string, path string, commit string, lang string, content string",
    )
    build_index(
        spark, docs, store, docs_per_shard=3,
    )
    return SearchEngine(spark, store)


def _oracles(engine, field_idx, docs=DOCS):
    """(content OracleIndex, field OracleIndex) keyed by INTERNAL doc_id."""
    dm = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in engine.doc_map.collect()
    }
    ids, texts, fields = [], [], []
    for row in docs:
        ids.append(dm[(row[0], row[1], row[2])])
        texts.append(row[4])
        fields.append(row[field_idx])
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    ids = [ids[i] for i in order]
    return (
        build_oracle(ids, [texts[i] for i in order]),
        build_oracle(ids, [fields[i] for i in order]),
    )


def _run(engine, query, **kw):
    rows = engine.fielded_search(query, with_meta=False, **kw).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


def test_or_matches_oracle_bitwise(engine):
    content, fld = _oracles(engine, 1)
    got = _run(engine, "table scan", k=10)
    want = bm25f_topk(content, fld, "table scan", k=10)
    assert got == want  # float64-exact, including order


def test_field_only_match_is_found(engine):
    content, fld = _oracles(engine, 1)
    # 'vector' appears only in lib/vector/dot.go's PATH — content BM25 alone
    # can never find it; the fielded query must
    got = _run(engine, "vector", k=10)
    want = bm25f_topk(content, fld, "vector", k=10)
    assert got == want
    assert len(got) == 1
    meta = engine.fielded_search("vector", k=10).collect()
    assert meta[0]["path"] == "lib/vector/dot.go"


def test_and_requires_every_term_in_some_field(engine):
    content, fld = _oracles(engine, 1)
    # 'planner' is path-only for c0/c3; 'scan' is content for c0, path for c5
    got = _run(engine, "planner scan", mode="and", k=10)
    want = bm25f_topk(content, fld, "planner scan", mode="and", k=10)
    assert got == want
    assert len(got) >= 1
    # a term present nowhere empties the conjunction
    assert _run(engine, "planner zz_nowhere", mode="and", k=10) == []


def test_weights_change_ranking(engine):
    content, fld = _oracles(engine, 1)
    for w_c, w_f in [(1.0, 1.0), (1.0, 4.0), (2.5, 0.0)]:
        got = _run(engine, "table scan planner", k=10,
                   w_content=w_c, w_field=w_f)
        want = bm25f_topk(content, fld, "table scan planner", k=10,
                          w_content=w_c, w_field=w_f)
        assert got == want, (w_c, w_f)


def test_second_field_column(engine):
    content, fld = _oracles(engine, 3)  # lang column
    got = _run(engine, "table go", field="lang", k=10)
    want = bm25f_topk(content, fld, "table go", k=10)
    assert got == want
    # lang tokens score every doc of that language
    assert len(_run(engine, "go", field="lang", k=10)) == 3


def test_absent_everywhere_and_empty_query(engine):
    assert _run(engine, "zz_nowhere", k=5) == []
    assert _run(engine, "...", k=5) == []  # tokenizes to nothing


def test_field_postings_cached_once(engine):
    engine.fielded_search("table", k=3, with_meta=False).collect()
    fp1 = engine._field_cache["path"][0]
    engine.fielded_search("scan", k=3, with_meta=False).collect()
    assert engine._field_cache["path"][0] is fp1


def test_k_cut_and_tie_order(engine):
    content, fld = _oracles(engine, 1)
    got = _run(engine, "table scan planner join", k=3)
    want = bm25f_topk(content, fld, "table scan planner join", k=3)
    assert got == want
    assert len(got) == 3
    scores = [s for _, s in got]
    assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# field-qualified syntax (search_qualified)
# ---------------------------------------------------------------------------

def _qualified_oracle(engine, query, k=10, mode="or", docs=DOCS):
    """Independent replica: per-clause BM25 in the clause's field, summed in
    ascending clause-key order ('' prefix for content)."""
    import numpy as np

    from strucmotif_search_spark.oracle import idf, tokenize
    from strucmotif_search_spark.query.fielded import parse_qualified

    content, _ = _oracles(engine, 1, docs)
    field_ix = {1: "path", 3: "lang", 0: "repo"}
    fld = {name: _oracles(engine, i, docs)[1] for i, name in field_ix.items()}

    clauses = sorted(
        {(f, t) for f, raw in parse_qualified(query) for t in tokenize(raw)},
        key=lambda c: (c[0] or "", c[1]),
    )
    cell: dict[tuple[int, str], float] = {}
    matched: dict[int, set[str]] = {}
    for f, t in clauses:
        ix = content if f is None else fld[f]
        ckey = (":" if f is None else f + ":") + t
        p = ix.postings.get(t)
        if p is None:
            continue
        ds, tfs = p
        w = idf(ix.n_docs, ix.df[t])
        tf = tfs.astype(np.float64)
        row = np.searchsorted(ix.doc_ids, ds)
        dl = ix.doclens[row].astype(np.float64)
        denom = tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / ix.avgdl)
        contrib = w * (tf * 2.2) / denom
        for d, c in zip(ds.tolist(), contrib.tolist()):
            cell[(d, ckey)] = c
            matched.setdefault(d, set()).add(ckey)
    if mode == "and":
        matched = {
            d: s for d, s in matched.items() if len(s) == len(clauses)
        }
    scores = {}
    for d, keys in matched.items():
        s = 0.0
        for ck in sorted(keys):
            s += cell[(d, ck)]
        scores[d] = s
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_qualified_or_matches_oracle(engine):
    q = "repo:r1 scan table"
    got = [
        (r["doc_id"], r["score"])
        for r in engine.search_qualified(q, k=10, with_meta=False).collect()
    ]
    assert got == _qualified_oracle(engine, q, k=10)
    assert len(got) >= 4  # the three r1 docs match via repo alone


def test_qualified_and_scopes_each_clause_to_its_field(engine):
    # lang:go AND content 'scan': go docs whose CONTENT mentions scan —
    # render.js has 'scan' in content but lang js; parquet_reader.go has
    # 'scan' only in its PATH (the unqualified clause is content-scoped);
    # both must be excluded
    q = "lang:go scan"
    got = engine.search_qualified(q, k=10, mode="and").collect()
    assert got == sorted(
        got, key=lambda r: (-r["score"], r["doc_id"])
    )
    paths = {r["path"] for r in got}
    assert paths == {"lib/planner/cost.go"}
    want = _qualified_oracle(engine, q, k=10, mode="and")
    got_pairs = [(r["doc_id"], r["score"]) for r in
                 engine.search_qualified(q, k=10, mode="and",
                                         with_meta=False).collect()]
    assert got_pairs == want


def test_qualified_content_only_equals_plain_fieldless_scoring(engine):
    # no qualifiers -> pure content clauses; equals the naive single-field
    # oracle with the same terms
    content, _ = _oracles(engine, 1)
    from strucmotif_search_spark.oracle import bm25_topk

    got = [
        (r["doc_id"], r["score"])
        for r in engine.search_qualified(
            "table scan", k=10, with_meta=False
        ).collect()
    ]
    assert got == bm25_topk(content, "table scan", k=10)


def test_qualified_unknown_field_raises(engine):
    with pytest.raises(ValueError, match="unknown query field"):
        engine.search_qualified("nosuch:term", k=5)


def test_fielded_unknown_field_raises(engine):
    with pytest.raises(ValueError, match="unknown query field"):
        engine.fielded_search("table", field="nope", k=5)


def test_qualified_absent_term_and_empty(engine):
    assert engine.search_qualified("repo:zz_none", k=5).count() == 0
    assert (
        engine.search_qualified("repo:zz_none table", k=5, mode="and").count()
        == 0
    )


def test_fielded_plan_pushes_term_filter_to_posting_scan(engine):
    hits = engine.fielded_search("table scan", k=5, with_meta=False)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    # content side: the union-of-terms filter reaches the parquet scan
    # (min/max pruning on term_id) — no full-postings read for 2 terms
    assert "PushedFilters" in plan and "term_id" in plan
    # the field side rides the persisted derived table (InMemory scan),
    # never a second corpus-wide tokenize per query
    assert "InMemoryTableScan" in plan


def test_qualified_plan_pushes_term_filter(engine):
    hits = engine.search_qualified("repo:r1 table", k=5, with_meta=False)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "term_id" in plan
    assert "InMemoryTableScan" in plan


def test_refs_generation_matches_oracle_bitwise(spark, tmp_path):
    """After one ADD and one REMOVE, the generation reads postings through
    refs parts with excluded shards and norms a commit wrote; the content
    side of fielded, qualified and explain still matches the oracle bit
    for bit."""
    from strucmotif_search_spark.corpus import generate_corpus
    from strucmotif_search_spark.oracle import bm25_topk
    from strucmotif_search_spark.query.analytics import explain_contributions
    from strucmotif_search_spark.streaming.incremental import (
        add_documents,
        remove_documents,
    )

    schema = "repo string, path string, commit string, lang string, content string"
    rows = [
        tuple(r)
        for r in generate_corpus(spark, 120, seed=3, partitions=2).collect()
    ]
    store = IndexStore(tmp_path / "refs")
    build_index(
        spark, spark.createDataFrame(rows[:100], schema), store,
        docs_per_shard=16,
    )
    add_documents(spark, store, spark.createDataFrame(rows[100:], schema))
    removed = rows[20:30]
    remove_documents(
        spark, store,
        spark.createDataFrame(
            [r[:3] for r in removed], "repo string, path string, commit string"
        ),
    )
    assert any(excl for _path, excl in store.posting_parts())
    live = [r for r in rows if r not in removed]
    eng = SearchEngine(spark, store)

    content, fld = _oracles(eng, 1, live)
    for q, mode in [("import d03 v_00002 mod_010", "or"), ("import d03", "and")]:
        got = _run(eng, q, k=10, mode=mode)
        assert got and got == bm25f_topk(content, fld, q, k=10, mode=mode)

    q = "path:d03 import v_00002"
    got = [
        (r["doc_id"], r["score"])
        for r in eng.search_qualified(q, k=10, with_meta=False).collect()
    ]
    assert got and got == _qualified_oracle(eng, q, k=10, docs=live)

    q = "import v_00002 return"
    hits = bm25_topk(content, q, k=10)
    tid = {t: v[0] for t, v in eng._vocab_lookup(q.split()).items()}
    per_doc: dict[int, list] = {}
    for r in explain_contributions(eng, q, [d for d, _s in hits]).collect():
        per_doc.setdefault(r["doc_id"], []).append((tid[r["term"]], r["contrib"]))
    for d, s in hits:
        total = 0.0
        for _tid, c in sorted(per_doc[d]):
            total += c
        assert total == s


def test_field_stats_counts_null_fields_as_zero_tokens(spark):
    from strucmotif_search_spark.query.fielded import field_stats

    dm = spark.createDataFrame(
        [(0, "a b c"), (1, None), (2, "d e f"), (3, None)],
        "doc_id long, lang string",
    )
    n, avg_fl = field_stats(dm, "lang")
    assert n == 4
    # NULL fields are zero-token docs IN the average: (3+0+3+0)/4
    assert avg_fl == pytest.approx(1.5)
