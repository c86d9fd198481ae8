"""Property tests for the Arrow tf-extraction kernel (no Spark): the
split-form tokenization (`split on [^A-Za-z0-9_]+` + digit-ltrim + drop
empties) must be EXACTLY `findall('[A-Za-z_][A-Za-z0-9_]*')` for arbitrary
content — the equivalence every build rests on (tokenizer._tf_batches) —
and the per-(doc, term) counts and positions must match a plain-python
reference.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from strucmotif_search_spark import TOKEN_PATTERN
from strucmotif_search_spark.tokenizer import _tf_batches

TOK = re.compile(TOKEN_PATTERN)

# adversarial alphabet: token chars, digits (only CONTINUE tokens),
# separators, unicode letters (NOT token chars under the frozen rule),
# underscores (token chars), newlines
content_strategy = st.text(
    alphabet="ab_Z9 0\t\n.-()é漢", min_size=0, max_size=80
)


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


@settings(max_examples=150, deadline=None)
@given(st.lists(content_strategy, min_size=1, max_size=8))
def test_tf_kernel_matches_findall(texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    pdf = pd.DataFrame({
        "doc_id": [d for d, _ in rows],
        "content": [t for _, t in rows],
    })
    parts = list(_tf_batches(iter([pdf]), TOKEN_PATTERN))
    # a batch whose docs are all token-less yields nothing
    got = (
        pd.concat(parts) if parts
        else pd.DataFrame({"doc_id": [], "term": [], "tf": []})
    )
    ref = _reference(rows)
    got_map = {
        (int(r.doc_id), r.term): int(r.tf)
        for r in got.itertuples(index=False)
    }
    exp_map = {
        (d, t): c for d, (cnt, _pos) in ref.items() for t, c in cnt.items()
    }
    assert got_map == exp_map


@settings(max_examples=150, deadline=None)
@given(st.lists(content_strategy, min_size=1, max_size=8))
def test_tf_kernel_positions_match_findall(texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    pdf = pd.DataFrame({
        "doc_id": [d for d, _ in rows],
        "content": [t for _, t in rows],
    })
    parts = list(
        _tf_batches(iter([pdf]), TOKEN_PATTERN, with_positions=True)
    )
    if not parts:
        assert all(not TOK.findall(t) for t in texts)
        return
    got = pd.concat(parts)
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
