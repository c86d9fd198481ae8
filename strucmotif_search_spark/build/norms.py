"""Per-shard packed norms sidecar — doclens co-located with the index.

BM25's length normalization needs ``doclen`` for every scored doc.  Joining
the full doc dictionary at query time would shuffle one row per document per
query (untenable at 10^12 docs), so doclens are packed into ONE row per shard
(``doc_gaps`` + ``doclens``, laid out as codec.py describes) — the Lucene
"norms file per segment" pattern, and the analogue of the reference's
decision to keep per-structure data addressable by docID without touching
the state table
(io/DefaultStructureDataProvider.java:202-246).

Query-time cost: the scorer cogroups postings with norms on ``shard`` — the
norms side is one compact row per shard.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, IntegerType, StructField, StructType

from ..codec import decode_segments, pack_block

NORMS_SCHEMA = StructType(
    [
        StructField("shard", IntegerType(), False),
        StructField("n_docs", IntegerType(), False),
        StructField("doc_gaps", BinaryType(), False),
        StructField("doclens", BinaryType(), False),
    ]
)


def _pack_norms(pdf: pd.DataFrame) -> pd.DataFrame:
    shard = int(pdf["shard"].iloc[0])
    order = np.argsort(pdf["doc_id"].to_numpy(), kind="stable")
    ids = pdf["doc_id"].to_numpy()[order].astype(np.int64)
    lens = pdf["doclen"].to_numpy()[order].astype(np.int64)
    gaps_b, lens_b = pack_block(ids, lens)
    return pd.DataFrame(
        [(shard, int(ids.size), gaps_b, lens_b)],
        columns=["shard", "n_docs", "doc_gaps", "doclens"],
    )


def build_norms(doc_map: DataFrame) -> DataFrame:
    """doc_map -> norms (one packed row per shard)."""
    return (
        doc_map.select("shard", "doc_id", "doclen")
        .groupBy("shard")
        .applyInPandas(_pack_norms, schema=NORMS_SCHEMA)
    )


def _merge_doc_runs(pdf: pd.DataFrame) -> pd.DataFrame:
    """Merge one shard's packed doc-metadata runs into its norms row:
    decode the runs, then pack them as :func:`build_norms` does."""
    counts = pdf["n_docs"].to_numpy()
    ids, _ = decode_segments(pdf["doc_deltas"], counts, delta=True)
    lens, _ = decode_segments(pdf["tfs"], counts)
    return _pack_norms(pd.DataFrame(
        {"shard": pdf["shard"].iloc[0], "doc_id": ids, "doclen": lens}
    ))


def build_norms_from_doc_runs(doc_rows: DataFrame) -> DataFrame:
    """Packed per-(shard, batch) doc-metadata rows (the ``term == ''`` rows
    of ``packed_term_runs``) -> norms, WITHOUT ever expanding to one row per
    document: the shuffle moves a few packed rows per shard (KBs), not the
    corpus's doc count — the same rows-never-unpacked principle as the
    posting-run merge.  Byte-identical to ``build_norms`` over the
    equivalent doc_map."""
    return (
        doc_rows.select("shard", "n_docs", "doc_deltas", "tfs")
        .groupBy("shard")
        .applyInPandas(_merge_doc_runs, schema=NORMS_SCHEMA)
    )
