"""Property tests for the Arrow tf-extraction kernel (no Spark): the
split-form tokenization (`split on [^A-Za-z0-9_]+` + digit-ltrim + drop
empties) must be EXACTLY `findall('[A-Za-z_][A-Za-z0-9_]*')` for arbitrary
content — the equivalence every build and commit rests on — and the
per-(doc, term) counts, positions and doclens must match a plain-python
reference, from both tokenize kernels: ``tokenizer._tf_batches``' rows and
``tokenizer._run_batches``' packed SPIMI runs and doc rows, decoded.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from strucmotif_search_spark import TOKEN_PATTERN
from strucmotif_search_spark.build.postings import unpack_positions
from strucmotif_search_spark.codec import decode_segments
from strucmotif_search_spark.tokenizer import (
    _decode_doc_rows,
    _run_batches,
    _tf_batches,
)

TOK = re.compile(TOKEN_PATTERN)
DOCS_PER_SHARD = 3  # a batch of up to 8 docs spans up to 3 shards

# adversarial alphabet: token chars, digits (only CONTINUE tokens),
# separators, unicode letters (NOT token chars under the frozen rule),
# underscores (token chars), newlines
content_strategy = st.text(
    alphabet="ab_Z9 0\t\n.-()é漢", min_size=0, max_size=80
)
texts_strategy = st.lists(content_strategy, min_size=1, max_size=8)


def _tf_kernel(pdf, with_positions):
    """``_tf_batches``' rows and the doclens they sum to."""
    parts = list(_tf_batches(iter([pdf]), with_positions))
    # a batch whose docs are all token-less yields nothing
    rows = pd.concat(parts) if parts else pd.DataFrame(
        {"doc_id": [], "term": [], "tf": [], "positions": []}
    )
    doclens = rows.groupby("doc_id")["tf"].sum()
    return rows, doclens.reindex(pdf["doc_id"], fill_value=0)


def _run_kernel(pdf, with_positions):
    """``_run_batches``' term runs decoded to (doc_id, term, tf[,
    positions]) rows, and its doc rows' doclens."""
    runs = pd.concat(list(_run_batches(
        iter([pdf.assign(content_sha256=[bytes(32)] * len(pdf))]),
        DOCS_PER_SHARD, with_positions,
    )), ignore_index=True)
    terms = runs[runs["term"] != ""]
    assert (terms["shard"] == terms["first_doc"] // DOCS_PER_SHARD).all()
    ids, counts = decode_segments(
        terms["doc_deltas"], terms["n_docs"].to_numpy(), delta=True
    )
    tfs, _ = decode_segments(terms["tfs"], counts)
    assert np.bincount(
        np.repeat(np.arange(len(terms)), counts), tfs, len(terms)
    ).tolist() == terms["sum_tf"].tolist()
    rows = pd.DataFrame({
        "doc_id": ids, "term": np.repeat(terms["term"].to_numpy(), counts),
        "tf": tfs,
    })
    if with_positions:
        rows["positions"] = unpack_positions(b"".join(terms["pos_data"]), tfs)
    meta = _decode_doc_rows(runs[runs["term"] == ""])
    return rows, meta.set_index("doc_id")["doclen"].reindex(pdf["doc_id"])


def _reference(rows):
    """Plain-python reference: findall + Counter per doc."""
    out = {}
    for doc_id, text in rows:
        toks = TOK.findall(text)
        out[doc_id] = (Counter(toks), {
            t: [i for i, x in enumerate(toks) if x == t]
            for t in set(toks)
        })
    return out


def _batch(texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    pdf = pd.DataFrame({
        "doc_id": [d for d, _ in rows],
        "content": [t for _, t in rows],
    })
    return rows, pdf


def _check_counts(kernel, texts):
    rows, pdf = _batch(texts)
    got, doclens = kernel(pdf, False)
    ref = _reference(rows)
    got_map = {
        (int(r.doc_id), r.term): int(r.tf)
        for r in got.itertuples(index=False)
    }
    exp_map = {
        (d, t): c for d, (cnt, _pos) in ref.items() for t, c in cnt.items()
    }
    assert got_map == exp_map
    assert doclens.tolist() == [len(TOK.findall(t)) for t in texts]


def _check_positions(kernel, texts):
    rows, pdf = _batch(texts)
    got, _doclens = kernel(pdf, True)
    ref = _reference(rows)
    # completeness: every reference (doc, term) pair is present...
    exp_pairs = {
        (d, t) for d, (cnt, _pos) in ref.items() for t in cnt
    }
    got_pairs = {
        (int(r.doc_id), r.term) for r in got.itertuples(index=False)
    }
    assert got_pairs == exp_pairs
    # ...with exactly the reference's token ordinals
    for r in got.itertuples(index=False):
        assert list(r.positions) == ref[int(r.doc_id)][1][r.term], (
            r.doc_id, r.term
        )



@settings(max_examples=150, deadline=None)
@given(texts_strategy)
def test_tf_kernel_matches_findall(texts):
    _check_counts(_tf_kernel, texts)


@settings(max_examples=150, deadline=None)
@given(texts_strategy)
def test_run_kernel_matches_findall(texts):
    _check_counts(_run_kernel, texts)


@settings(max_examples=150, deadline=None)
@given(texts_strategy)
def test_tf_kernel_positions_match_findall(texts):
    _check_positions(_tf_kernel, texts)


@settings(max_examples=150, deadline=None)
@given(texts_strategy)
def test_run_kernel_positions_match_findall(texts):
    _check_positions(_run_kernel, texts)
