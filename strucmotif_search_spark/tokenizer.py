"""Vectorized tokenization — the engine's analogue of the reference's
per-document term extraction (``ResidueGraph``: structure -> multiset of
residue-pair descriptor terms, domain/structure/ResidueGraph.java:138-146).

The tokenizer contract is FROZEN (FIXTURES.md §2): tokens are maximal
``[A-Za-z_][A-Za-z0-9_]*`` runs, case-sensitive, no stemming, no stopword
removal.  Freezing the rule is the analogue of the reference freezing its
distance/angle binning rules (DistanceType.java:161-170) — the vocabulary is
defined by the rule, and exactness is asserted against the oracle, not
assumed.

Three code paths, all JVM/Arrow friendly:

- :func:`tokenize_expr` — pure Catalyst expression (``regexp_extract_all``),
  whole-stage-codegen'd, used when a token *array column* is all we need.
- :func:`term_frequencies` — ``mapInPandas`` kernel emitting
  ``(doc_id, term, tf)`` rows, array-at-a-time in Arrow + numpy (no
  per-token Python); classification tokenizes with it.
- :func:`packed_term_runs` — the same tokenization packed map-side into
  per-(shard, term) posting runs: the SPIMI stage-1 map side of the full
  build and of incremental ADD (StrucmotifUpdate.java:327-373 analogue);
  the driver commit arm runs its kernel, :func:`_run_batches`, in
  process.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import TOKEN_PATTERN
from .codec import (
    decode_segments,
    encode_segments,
    gather_segments,
    offsets,
    segment_starts,
)

TF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("term", StringType(), False),
        StructField("tf", LongType(), False),
    ]
)

# positional flavor: token ordinals within the document, ascending — the
# analogue of the reference's per-doc occurrence payload
# (ResiduePairIdentifier positions in each bucket, ArrayBucket.java:34)
from pyspark.sql.types import ArrayType  # noqa: E402

TFP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("term", StringType(), False),
        StructField("tf", LongType(), False),
        StructField("positions", ArrayType(LongType(), False), False),
    ]
)

ANALYZERS = ("standard", "code")

# code-analyzer split rules (applied in order, then casefold).  Kept to the
# regex subset whose semantics are identical across Java (Spark), RE2
# (DuckDB) and Python `re`: character classes, capture groups, left-to-right
# non-overlapping global replace.
_CODE_RULES = (
    (r"([A-Z]+)([A-Z][a-z])", "ACRONYM_BOUNDARY"),  # HTTPServer -> HTTP Server
    (r"([a-z0-9])([A-Z])", "HUMP_BOUNDARY"),        # getFoo -> get Foo
    (r"_", "SNAKE_SEPARATOR"),                      # snake_case -> snake case
)


def analyze_expr(content: Column, analyzer: str = "standard") -> Column:
    """Analyzer pre-transform as a Catalyst expression (JVM-side, codegen).

    ``standard`` — identity: the frozen contract (P5 token admission).
    ``code``     — source-code subtoken analysis (the Lucene
    WordDelimiterGraph shape restricted to its deterministic core): split
    camelCase humps acronym-aware (``HTTPServer2Go`` -> ``HTTP Server2 Go``),
    turn ``_`` separators into spaces so snake_case splits under the frozen
    ``TOKEN_PATTERN``, then casefold.  Composes as text -> text BEFORE the
    (unchanged) tokenizer kernel, so the Arrow tf kernel, the SPIMI runs and
    every downstream stage are analyzer-agnostic; digit-leading fragments
    keep the standard admission rule (digits never start a token).
    """
    if analyzer == "standard":
        return content
    if analyzer != "code":
        raise ValueError(f"unknown analyzer {analyzer!r} (have {ANALYZERS})")
    c = F.regexp_replace(content, _CODE_RULES[0][0], r"$1 $2")
    c = F.regexp_replace(c, _CODE_RULES[1][0], r"$1 $2")
    c = F.regexp_replace(c, _CODE_RULES[2][0], " ")
    return F.lower(c)


def analyze_text(text: str, analyzer: str = "standard") -> str:
    """Driver-side replica of :func:`analyze_expr` for QUERY strings (and
    the test oracles) — same rules, Python ``re`` engine; identical output
    for the portable regex subset used."""
    if analyzer == "standard":
        return text
    if analyzer != "code":
        raise ValueError(f"unknown analyzer {analyzer!r} (have {ANALYZERS})")
    import re as _re

    t = _re.sub(_CODE_RULES[0][0], r"\1 \2", text)
    t = _re.sub(_CODE_RULES[1][0], r"\1 \2", t)
    t = t.replace("_", " ")
    return t.lower()


def tokenize_expr(content: Column, analyzer: str = "standard") -> Column:
    """Token array column via Catalyst ``regexp_extract_all`` (JVM-side,
    codegen).  Equivalent to the frozen contract; ``analyzer`` applies the
    matching pre-transform first."""
    return F.regexp_extract_all(
        analyze_expr(content, analyzer), F.lit(TOKEN_PATTERN), 0
    )


# 32-bit Arrow string offsets cap an array at 2^31 bytes.  Spark's
# maxRecordsPerBatch bounds ROWS, not bytes, so a batch of large documents
# (10k rows x 1 MB) can overflow pa.string().  128M chars per slice keeps
# the worst case (4 bytes/char UTF-8 = 2^29 bytes) at 4x headroom under the
# limit while leaving the common path (one slice) untouched.  (ADVICE
# round-3: the previous 256M threshold plus the cut-landing-past-the-
# crossing-row rule could reach 2^31 exactly; the greedy cut below also
# guarantees a slice never EXCEEDS the budget unless it is a single row.)
_ARROW_SLICE_CHARS = 1 << 27


def _content_slices(pdf: "pd.DataFrame"):
    """Split a pandas batch into row slices whose total content chars stay
    under the 32-bit Arrow offset budget; yields the input unchanged when
    it already fits (the overwhelmingly common case).  Greedy cut BEFORE
    the row that would cross the budget, so every multi-row slice totals
    <= _ARROW_SLICE_CHARS; only a single row larger than the whole budget
    (a >512 MB document) can exceed it, and then only by its own size."""
    lens = pdf["content"].map(len).to_numpy(dtype="int64")
    if int(lens.sum()) <= _ARROW_SLICE_CHARS:
        yield pdf
        return
    prev = 0
    total = 0
    for i, ln in enumerate(lens.tolist()):
        if total + ln > _ARROW_SLICE_CHARS and i > prev:
            yield pdf.iloc[prev:i]
            prev = i
            total = 0
        total += ln
    if prev < len(pdf):
        yield pdf.iloc[prev:]


def _tokenize(content: pd.Series, with_positions: bool):
    """The one tokenization of the frozen contract over a batch's content
    -> ``(rows, codes, dictionary, ordinals)``: each token's owning row, its
    code in ``dictionary`` and, when ``with_positions``, its ordinal within
    its row (else ``None``).  ``dictionary`` is ``None`` when the batch
    holds no token.

    ``findall('[A-Za-z_][A-Za-z0-9_]*')`` is computed as the exactly
    equivalent split-form: split on ``[^A-Za-z0-9_]+`` (maximal token-char
    runs), strip any leading digits, drop empties.  Tokens stay in Arrow C
    buffers and are counted by dictionary code, so no per-token Python
    object exists (48M token objects per batch would thrash the allocator
    and stall every core).
    """
    # 32-bit offsets: kept deliberately (the token array's OFFSETS are
    # ~8 bytes x n_tokens with large_string — as large as the token bytes
    # themselves, and the map stage is memory-bandwidth-bound).
    # _content_slices guards the 2 GB offset limit: maxRecordsPerBatch
    # bounds ROWS, not bytes, so large documents must be re-sliced.
    toks = pc.split_pattern_regex(
        pa.array(content, type=pa.string()), pattern="[^A-Za-z0-9_]+"
    )
    parent = pc.list_parent_indices(toks)
    # "^[0-9]+" as a character-set trim — same result (digits can never
    # start a token, only continue one), ~4x faster than the regex replace
    # and with no extra full-array copy on the no-op path
    flat = pc.utf8_ltrim(pc.list_flatten(toks), characters="0123456789")
    mask = pc.not_equal(flat, "")
    flat = flat.filter(mask)
    rows = parent.filter(mask).to_numpy().astype(np.int64)
    if len(flat) == 0:
        return rows, None, None, None
    d = pc.dictionary_encode(flat)
    ordinals = None
    if with_positions:
        # token ordinal within its row: arange minus the row's first index
        row_starts = segment_starts(rows)
        ordinals = np.arange(rows.size) - np.repeat(
            row_starts, np.diff(np.append(row_starts, rows.size))
        )
    return rows, d.indices.to_numpy().astype(np.int64), d.dictionary, ordinals


def _count_pairs(rows: np.ndarray, codes: np.ndarray, ordinals):
    """Aggregate tokens into their distinct (row, code) pairs, ascending
    -> ``(rows, codes, tfs, positions)``; ``positions`` is each pair's
    ordinals ascending, flat in pair order (``None`` without ordinals).
    One uint64 key = row << 32 | code."""
    key = (rows.astype(np.uint64) << np.uint64(32)) | codes.astype(np.uint64)
    positions = None
    if ordinals is None:
        uniq, tfs = np.unique(key, return_counts=True)
    else:
        # stable sort by (row, code): ordinals stay ascending per pair
        order = np.argsort(key, kind="stable")
        uniq, tfs = np.unique(key[order], return_counts=True)
        positions = ordinals[order]
    return (
        (uniq >> np.uint64(32)).astype(np.int64),
        (uniq & np.uint64(0xFFFFFFFF)).astype(np.int64),
        tfs.astype(np.int64),
        positions,
    )


def _tf_batches(
    batches: Iterator[pd.DataFrame], with_positions: bool = False
) -> Iterator[pd.DataFrame]:
    """Arrow-native tf kernel: :func:`_tokenize`, then one row per distinct
    (doc, term) pair.  Python strings materialize only for the far-smaller
    set of unique (doc, term) pairs.
    """
    for whole in batches:
      if len(whole) == 0:
          continue
      for pdf in _content_slices(whole):
        rows, codes, dictionary, ordinals = _tokenize(
            pdf["content"], with_positions
        )
        if dictionary is None:
            continue
        urows, ucodes, tfs, positions = _count_pairs(rows, codes, ordinals)
        cols = {
            "doc_id": pdf["doc_id"].to_numpy()[urows].astype("int64"),
            "term": dictionary.take(pa.array(ucodes)).to_pandas().to_numpy(),
            "tf": tfs,
        }
        if with_positions:
            cols["positions"] = np.split(positions, offsets(tfs)[1:-1])
        yield pd.DataFrame(cols)


# ---------------------------------------------------------------------------
# SPIMI map-side packed runs (the build's map output)
# ---------------------------------------------------------------------------
#
# One row per (shard, term) PER ARROW BATCH, postings packed into binary
# cells (codec.py's SPIMI run payload) — the literal "per-partition posting-list construction pass"
# of the SPIMI design: partial posting lists are built map-side and only the
# packed runs cross the shuffle.  vs one row per posting, this cuts the
# build's big exchange by ~10x in rows and ~5x in bytes (the non-scaling
# resource on a multi-executor cluster), and the reduce side becomes a small
# run-row sort + a numpy merge instead of a 10^8-row Tungsten sort.
# Doc-level metadata (doclen, content sha256) rides the same output as one
# packed row per (shard, batch) with term '' (codec.py's doc-meta run) — so the build still makes
# exactly ONE pass over document content and needs no separate doclen
# aggregate over a posting-row table.
#
# Reference analogue: the per-thread partial posting files of
# update/Context.java:50-73, with the shuffle made explicit.

from pyspark.sql.types import BinaryType, IntegerType  # noqa: E402

RUNS_SCHEMA = StructType(
    [
        StructField("shard", IntegerType(), False),
        StructField("term", StringType(), False),
        StructField("n_docs", LongType(), False),
        StructField("sum_tf", LongType(), False),
        StructField("first_doc", LongType(), False),
        StructField("doc_deltas", BinaryType(), False),
        StructField("tfs", BinaryType(), False),
    ]
)

RUNS_POS_SCHEMA = StructType(
    RUNS_SCHEMA.fields + [StructField("pos_data", BinaryType(), False)]
)


def _runs_schema(with_positions: bool) -> StructType:
    base = RUNS_POS_SCHEMA if with_positions else RUNS_SCHEMA
    return StructType(
        base.fields + [StructField("sha_data", BinaryType(), True)]
    )


def _run_batches(
    batches: Iterator[pd.DataFrame], docs_per_shard: int, with_positions: bool
) -> Iterator[pd.DataFrame]:
    """Packed-run kernel: :func:`_tokenize` and :func:`_count_pairs`, then
    entries are sorted (term-code, doc_id) in numpy and each maximal (term,
    shard) run is packed as a SPIMI run row, and each shard's docs as a
    doc-meta row (payloads: see codec.py).
    """
    pos_cols = ["pos_data"] if with_positions else []
    all_cols = (
        ["shard", "term", "n_docs", "sum_tf", "first_doc", "doc_deltas",
         "tfs"] + pos_cols + ["sha_data"]
    )

    def _doc_rows(doc_ids, doclens, shas) -> pd.DataFrame:
        """One packed row per shard: this batch's (doc_id, doclen, sha)."""
        order = np.argsort(doc_ids, kind="stable")
        ids = doc_ids[order]
        lens = doclens[order]
        shard = ids // docs_per_shard
        starts = segment_starts(shard)
        ends = np.append(starts[1:], ids.size)
        cols = {
            "shard": shard[starts].astype(np.int32),
            "term": [""] * starts.size,
            "n_docs": ends - starts,
            # sum_tf on doc rows = the run's total doclen, so corpus stats
            # need only SUM(sum_tf) over doc rows — no decode
            "sum_tf": np.add.reduceat(lens, starts),
            "first_doc": ids[starts],
            "doc_deltas": encode_segments(ids, starts, restarts=starts),
            "tfs": encode_segments(lens, starts),
        }
        if with_positions:
            cols["pos_data"] = [b""] * starts.size
        sh = shas[order]
        cols["sha_data"] = [b"".join(sh[s:e]) for s, e in zip(starts, ends)]
        return pd.DataFrame(cols)

    for whole in batches:
      if len(whole) == 0:
          continue
      for pdf in _content_slices(whole):
        doc_id_arr = pdf["doc_id"].to_numpy().astype(np.int64)
        rows, codes, dictionary, ordinals = _tokenize(
            pdf["content"], with_positions
        )
        doc_rows = _doc_rows(
            doc_id_arr,
            np.bincount(rows, minlength=len(pdf)).astype(np.int64),
            pdf["content_sha256"].to_numpy(),
        )
        if dictionary is None:
            yield doc_rows
            continue
        urows, ucodes, tfs, positions = _count_pairs(rows, codes, ordinals)
        e_docs = doc_id_arr[urows]
        # group entries by term code, doc-ascending within; shard is
        # monotonic in doc_id so (code, doc) order gives maximal
        # (term, shard) runs for free
        order = np.lexsort((e_docs, ucodes))
        e_docs = e_docs[order]
        e_codes = ucodes[order]
        e_tfs = tfs[order]
        e_shard = e_docs // docs_per_shard
        starts = segment_starts(e_codes, e_shard)
        cols = {
            "shard": e_shard[starts].astype(np.int32),
            "term": dictionary.take(pa.array(e_codes[starts]))
            .to_pandas().to_numpy(),
            "n_docs": np.diff(np.append(starts, e_docs.size)),
            "sum_tf": np.add.reduceat(e_tfs, starts),
            "first_doc": e_docs[starts],
            "doc_deltas": encode_segments(e_docs, starts, restarts=starts),
            "tfs": encode_segments(e_tfs, starts),
        }
        if with_positions:
            pstarts = offsets(e_tfs)
            cols["pos_data"] = encode_segments(
                gather_segments(positions, tfs, order),
                pstarts[starts], restarts=pstarts[:-1],
            )
        cols["sha_data"] = [None] * starts.size
        yield pd.concat(
            [pd.DataFrame(cols)[all_cols], doc_rows], ignore_index=True
        )


def packed_term_runs(
    docs: DataFrame,
    docs_per_shard: int,
    content_col: str = "content",
    with_positions: bool = False,
    analyzer: str = "standard",
) -> DataFrame:
    """``(doc_id, content)`` -> packed SPIMI runs, one row per (shard, term)
    per Arrow batch (see module comment above).  The content digest is
    computed JVM-side inside the same scan (``unhex(sha2(...))``) and the
    raw 32-byte digests are packed into the per-shard doc-metadata rows.
    ``analyzer`` pre-transforms the tokenized text in the same scan; the
    digest always hashes the RAW content column."""
    src = docs.select(
        "doc_id",
        analyze_expr(F.col(content_col), analyzer).alias("content"),
        F.unhex(F.sha2(F.col(content_col), 256)).alias("content_sha256"),
    )
    return src.mapInPandas(
        lambda it: _run_batches(it, docs_per_shard, with_positions),
        schema=_runs_schema(with_positions),
    )


DOC_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("doclen", LongType(), False),
        StructField("content_sha256", StringType(), True),
    ]
)


def _decode_doc_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """Packed doc-metadata rows -> ``(doc_id, doclen, sha hex)``, one row
    per document."""
    counts = pdf["n_docs"].to_numpy()
    ids, _ = decode_segments(pdf["doc_deltas"], counts, delta=True)
    lens, _ = decode_segments(pdf["tfs"], counts)
    hex_all = b"".join(pdf["sha_data"]).hex()
    return pd.DataFrame({
        "doc_id": ids,
        "doclen": lens,
        "content_sha256": [
            hex_all[i * 64:(i + 1) * 64] for i in range(ids.size)
        ],
    })


def decode_doc_meta(doc_rows: DataFrame) -> DataFrame:
    """Inverse of the doc-metadata packing: ``(doc_id, doclen, sha hex)``
    one row per document.  Input: the ``term == ''`` rows of
    :func:`packed_term_runs` output."""

    def _unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _decode_doc_rows(pdf)

    return doc_rows.select(
        "n_docs", "doc_deltas", "tfs", "sha_data"
    ).mapInPandas(_unpack, schema=DOC_META_SCHEMA)


def term_frequencies(
    docs: DataFrame,
    content_col: str = "content",
    with_positions: bool = False,
    analyzer: str = "standard",
) -> DataFrame:
    """``(doc_id, content)`` -> ``(doc_id, term, tf[, positions])`` via
    mapInPandas — one pass over documents, embarrassingly parallel (the
    analogue of the reference's parallelStream over docs at
    StrucmotifUpdate.java:209).  ``with_positions`` also emits each term's
    ascending token ordinals (the occurrence-payload analogue,
    ArrayBucket.java:34).

    ``analyzer`` pre-transforms content JVM-side inside the same scan.
    """
    src = docs.select(
        "doc_id", analyze_expr(F.col(content_col), analyzer).alias("content")
    )
    schema = TFP_SCHEMA if with_positions else TF_SCHEMA
    return src.mapInPandas(
        lambda it: _tf_batches(it, with_positions),
        schema=schema,
    )
