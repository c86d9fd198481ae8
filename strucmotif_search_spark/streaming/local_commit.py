"""The driver arm of incremental ADD / REMOVE: a small commit computed in
process.

The Spark arm (``incremental.add_documents`` / ``remove_documents``) pays
~37 Spark jobs per commit, although a small batch changes only itself and
the one or two shards it touches.  This arm reads what the commit needs
with pyarrow — ``doc_map``, ``free_ids`` and ``norms`` to place the batch,
then ``terms`` and only the affected shards' posting blocks — computes the
new generation with the kernels the Spark arm runs (``_run_batches`` after
``analyze_text``, ``_merge_pack_run_rows`` through ``_carry_runs``,
``_pack_norms``) and writes the same tables with ``pyarrow.parquet``.
Both arms therefore publish row-identical generations;
``incremental.fits_driver_commit`` picks the arm by the driver memory the
commit is estimated to need, and nothing is written before it has.

Each commit is a two-step object: the constructor reads and places the
batch (E1 / E2, minted ids, ``affected`` shards and the docs they hold),
``commit(gen)`` computes and writes the generation's tables.
"""

from __future__ import annotations

import uuid
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql.types import StructType

from ..build.doc_map import DOC_KEY
from ..build.index_store import IndexStore, has_data, scan_postings
from ..build.norms import NORMS_SCHEMA, _pack_norms
from ..build.postings import (
    BLOCK_COLUMN,
    POSTINGS_POS_SCHEMA,
    POSTINGS_SCHEMA,
    _carry_runs,
    _merge_pack_run_rows,
    run_columns,
)
from ..tokenizer import _decode_doc_rows, _run_batches, analyze_text

# block rows per merge call: the Spark arm's Arrow batch size
# (spark.sql.execution.arrow.maxRecordsPerBatch), which also bounds the
# postings decoded at once on the driver
BATCH_ROWS = 8192

_ARROW_TYPES = {
    "int": pa.int32(), "bigint": pa.int64(), "binary": pa.binary(),
}

# the tables' Arrow schemas as the Spark arm writes them
TERMS = pa.schema([
    ("term", pa.string()), ("term_id", pa.int64()),
    ("df", pa.int64()), ("cf", pa.int64()),
])
STATS = pa.schema([
    pa.field("n_docs", pa.int64(), nullable=False),
    ("sum_doclen", pa.int64()), ("avgdl", pa.float64()),
])
FREE_IDS = pa.schema([("doc_id", pa.int64())])


def _arrow(struct: StructType) -> pa.Schema:
    return pa.schema([
        pa.field(f.name, _ARROW_TYPES[f.dataType.simpleString()], f.nullable)
        for f in struct.fields
    ])


NORMS = _arrow(NORMS_SCHEMA)


def read_table(store: IndexStore, name: str, gen: str) -> pa.Table | None:
    """A generation's table, or None when it was never written."""
    path = Path(store.table_path(name, gen))
    if not path.exists():
        return None
    if name == "norms" and not has_data(path):
        # Spark writes a bucketed table of no rows as no file (no schema)
        return NORMS.empty_table()
    return ds.dataset(str(path), format="parquet").to_table()


def count_rows(store: IndexStore, name: str, gen: str) -> int:
    """A generation's table row count from its parquet footers alone (0
    when it was never written)."""
    path = Path(store.table_path(name, gen))
    if not path.exists():
        return 0
    return ds.dataset(str(path), format="parquet").count_rows()


def _keys(table: pa.Table) -> pd.MultiIndex:
    """``table``'s natural keys, for E1 / E2 membership tests."""
    return pd.MultiIndex.from_arrays(
        [table.column(c).to_numpy(zero_copy_only=False) for c in DOC_KEY]
    )


class _Commit:
    """What both commit kinds share: the old generation's placement tables
    and the writers of the new generation's tables."""

    chunk = ""

    def __init__(self, store: IndexStore, old_gen: str, meta: dict):
        self.store, self.old_gen, self.meta = store, old_gen, meta
        self.dps = meta["docs_per_shard"]
        self.wp = bool(meta.get("with_positions"))
        self.doc_map = read_table(store, "doc_map", old_gen)
        self.free = read_table(store, "free_ids", old_gen)
        self.norms = read_table(store, "norms", old_gen)
        self.affected: list[int] = []

    @property
    def affected_docs(self) -> int:
        """Docs the affected shards hold now: the rows the arm decodes and
        repacks."""
        held = self.norms.filter(pc.field("shard").isin(self.affected))
        return int(pc.sum(held["n_docs"]).as_py() or 0)

    def _write(self, table: pa.Table, name: str, gen: str, codec: str) -> None:
        out = Path(self.store.table_path(name, gen))
        if name == "postings":
            out = out / f"chunk={self.chunk}"
        out.mkdir(parents=True, exist_ok=True)
        # Spark's zstd level; no dictionaries and no statistics on binary
        # columns: with either, these tables came out up to 1.9x larger
        # than Spark writes them (term strings and sha hex are near-unique,
        # and a binary min/max copies whole posting blobs)
        pq.write_table(
            table, out / f"part-00000-{uuid.uuid4()}.{codec}.parquet",
            compression=codec, compression_level={"zstd": 3}.get(codec),
            use_dictionary=False,
            write_statistics=[
                f.name for f in table.schema if not pa.types.is_binary(f.type)
            ],
        )

    def _repack(
        self, new_runs: pd.DataFrame | None = None,
        drop: np.ndarray | None = None,
    ) -> tuple[pa.Table, pd.DataFrame]:
        """The affected shards' posting blocks read as SPIMI runs, plus an
        ADD's ``new_runs``, minus the postings of the doc ids in ``drop``
        (a REMOVE's victims), merged into new blocks.  Only the block rows
        are sorted, by (shard, term_id, first_doc); the Spark arm's merge
        then decodes them in ``BATCH_ROWS`` slices (``_carry_runs`` carries
        a (shard, term_id) group across slices).  Returns the blocks and
        the dropped postings' ``(term_id, tf)``."""
        schema = _arrow(POSTINGS_POS_SCHEMA if self.wp else POSTINGS_SCHEMA)
        cols = run_columns(self.wp)
        block_cols = [BLOCK_COLUMN.get(c, c) for c in cols]
        # the empty table keeps the schema when no posting part exists
        tables = [
            t.select(block_cols).rename_columns(cols)
            for t in [schema.empty_table()] + scan_postings(
                self.store.posting_datasets(self.old_gen), block_cols,
                pc.field("shard").isin(self.affected),
            )
        ]
        if new_runs is not None:
            tables.append(
                pa.Table.from_pandas(new_runs[cols], preserve_index=False)
            )
        runs = pa.concat_tables(tables, promote_options="permissive").sort_by(
            [(c, "ascending") for c in ("shard", "term_id", "first_doc")]
        )
        blocks = [schema.empty_table()]
        dropped = [pd.DataFrame({"term_id": [], "tf": []}, dtype=np.int64)]
        for packed, gone in _carry_runs(
            (
                runs.slice(i, BATCH_ROWS).to_pandas()
                for i in range(0, runs.num_rows, BATCH_ROWS)
            ),
            lambda f: _merge_pack_run_rows(f, self.wp, drop),
        ):
            blocks.append(
                pa.Table.from_pandas(packed, schema=schema, preserve_index=False)
            )
            dropped.append(gone)
        return pa.concat_tables(blocks), pd.concat(dropped, ignore_index=True)

    def _norms(self, doc_map: pa.Table) -> pa.Table:
        """Unaffected shards' norms rows as they are; the affected shards
        re-packed from ``doc_map`` (a shard left with no docs drops out)."""
        keep = self.norms.filter(~pc.field("shard").isin(self.affected))
        docs = doc_map.filter(pc.field("shard").isin(self.affected)).select(
            ["shard", "doc_id", "doclen"]
        ).to_pandas()
        packed = [_pack_norms(g) for _s, g in docs.groupby("shard", sort=True)]
        tables = [keep.select(NORMS.names).cast(NORMS)] + [
            pa.Table.from_pandas(p, schema=NORMS, preserve_index=False)
            for p in packed
        ]
        return pa.concat_tables(tables).sort_by("shard")

    def _publish_tables(
        self, gen: str, codec: str, doc_map: pa.Table, terms: pd.DataFrame,
        postings: pa.Table,
    ) -> None:
        n = doc_map.num_rows
        total = pc.sum(doc_map["doclen"]).as_py() if n else None
        stats = pa.Table.from_pylist(
            [{
                "n_docs": n, "sum_doclen": total,
                "avgdl": float(total) / n if n else None,
            }],
            schema=STATS,
        )
        terms = terms.sort_values("term", ignore_index=True)
        for name, table in (
            ("doc_map", doc_map),
            ("terms", pa.Table.from_pandas(
                terms[TERMS.names], schema=TERMS, preserve_index=False
            )),
            ("stats", stats),
            ("norms", self._norms(doc_map)),
            ("postings", postings),
        ):
            self._write(table, name, gen, codec)


class LocalAdd(_Commit):
    """ADD of a collected batch (columns DOC_KEY, ``lang``, ``content_col``
    and ``content_sha256``, the raw digest the collect computes): the
    Spark arm's E1, id minting and table merges."""

    chunk = "add"

    def __init__(self, store, old_gen, meta, batch: pd.DataFrame, content_col):
        super().__init__(store, old_gen, meta)
        self.content_col = content_col
        # E1 delta-plus: requested − known; exact duplicate rows collapse,
        # a key that still repeats is refused
        rows = batch.drop_duplicates([*DOC_KEY, "lang", content_col])
        rows = rows[
            ~pd.MultiIndex.from_frame(rows[DOC_KEY]).isin(_keys(self.doc_map))
        ]
        repeated = rows[rows.duplicated(DOC_KEY)]
        if len(repeated):
            raise repeated_key_error(tuple(repeated.iloc[0][DOC_KEY]))
        self.rows = rows.sort_values(DOC_KEY, ignore_index=True)
        # ids: the free list smallest-first, then minted past the largest
        # id ever used (as the Spark arm, incremental._add_spark, mints them)
        free = np.sort(
            self.free["doc_id"].to_numpy() if self.free is not None
            else np.empty(0, np.int64)
        ).astype(np.int64)
        used = [
            pc.max(self.doc_map["doc_id"]).as_py(),
            int(free[-1]) if free.size else None,
        ]
        base_id = max([x for x in used if x is not None], default=-1)
        rank = np.arange(len(self.rows), dtype=np.int64)
        self.doc_ids = base_id + 1 - free.size + rank
        reused = min(free.size, rank.size)
        self.doc_ids[:reused] = free[:reused]
        self.free_left = free[reused:]
        self.affected = sorted({int(s) for s in self.doc_ids // self.dps})

    @property
    def n_added(self) -> int:
        return len(self.rows)

    def commit(self, gen: str, codec: str) -> None:
        if not self.affected:  # nothing new: republish the old tables
            for name in ("doc_map", "terms", "stats", "norms", "free_ids"):
                table = read_table(self.store, name, self.old_gen)
                if table is not None:
                    self._write(table, name, gen, codec)
            return
        if self.free is not None and len(self.free):
            self._write(
                pa.table({"doc_id": self.free_left}, schema=FREE_IDS),
                "free_ids", gen, codec,
            )
        analyzer = self.meta.get("analyzer", "standard")
        text = pd.DataFrame({
            "doc_id": self.doc_ids,
            "content": [
                analyze_text(c, analyzer) for c in self.rows[self.content_col]
            ],
            "content_sha256": self.rows["content_sha256"].to_numpy(),
        })
        # the build's tokenize kernel: SPIMI term runs and doc-meta rows
        runs = pd.concat(
            list(_run_batches(iter([text]), self.dps, self.wp)),
            ignore_index=True,
        )
        is_doc = (runs["term"] == "").to_numpy()
        doc_meta = _decode_doc_rows(runs[is_doc]).set_index("doc_id").reindex(
            self.doc_ids
        )
        runs = runs[~is_doc]
        new_rows = pd.DataFrame({
            "doc_id": self.doc_ids,
            **{c: self.rows[c] for c in (*DOC_KEY, "lang")},
            "content_sha256": doc_meta["content_sha256"].to_numpy(),
            "doclen": doc_meta["doclen"].to_numpy(),
            "shard": (self.doc_ids // self.dps).astype(np.int32),
        })
        # the Spark arm's union: the old column order, every field nullable
        schema = pa.schema([f.with_nullable(True) for f in self.doc_map.schema])
        doc_map = pa.concat_tables([
            self.doc_map.cast(schema),
            pa.Table.from_pandas(
                new_rows[schema.names], schema=schema, preserve_index=False
            ),
        ])
        # terms: exact df/cf add from the run rows, as the build takes
        # them; fresh terms ranked after the old max id
        terms = read_table(self.store, "terms", self.old_gen).to_pandas()
        delta = runs.groupby("term").agg(
            df_add=("n_docs", "sum"), cf_add=("sum_tf", "sum")
        )
        add = delta.reindex(terms["term"], fill_value=0)
        terms["df"] += add["df_add"].to_numpy()
        terms["cf"] += add["cf_add"].to_numpy()
        fresh = delta[~delta.index.isin(terms["term"])].sort_index()
        max_tid = int(terms["term_id"].max()) if len(terms) else -1
        terms = pd.concat([terms, pd.DataFrame({
            "term": fresh.index,
            "term_id": max_tid + 1 + np.arange(len(fresh), dtype=np.int64),
            "df": fresh["df_add"].to_numpy(),
            "cf": fresh["cf_add"].to_numpy(),
        })], ignore_index=True)
        # postings: the affected shards' old blocks merged with the new runs
        term_id = runs["term"].map(
            pd.Series(terms["term_id"].to_numpy(), index=terms["term"])
        ).astype(np.int64)
        postings, _ = self._repack(new_runs=runs.assign(term_id=term_id))
        self._publish_tables(gen, codec, doc_map, terms, postings)


class LocalRemove(_Commit):
    """REMOVE of a collected key frame (columns DOC_KEY): the Spark arm's
    E2, free-list retirement and posting surgery."""

    chunk = "remove"

    def __init__(self, store, old_gen, meta, keys: pd.DataFrame):
        super().__init__(store, old_gen, meta)
        # E2 delta-minus: known ∩ requested
        self.victim = _keys(self.doc_map).isin(
            pd.MultiIndex.from_frame(keys[DOC_KEY])
        )
        victims = self.doc_map.filter(self.victim)
        self.victim_ids = victims["doc_id"].to_numpy()
        self.affected = sorted(
            {int(s) for s in victims["shard"].to_numpy()}
        )

    def commit(self, gen: str, codec: str) -> None:
        doc_map = self.doc_map.filter(~self.victim)
        old_free = (
            self.free["doc_id"].to_numpy() if self.free is not None
            else np.empty(0, np.int64)
        )
        self._write(
            pa.table(
                {"doc_id": np.union1d(old_free, self.victim_ids).astype(np.int64)},
                schema=FREE_IDS,
            ),
            "free_ids", gen, codec,
        )
        postings, gone = self._repack(drop=self.victim_ids)
        # terms: exact df/cf decrement; rows left with df <= 0 drop out
        dec = gone.groupby("term_id").agg(
            df_sub=("tf", "size"), cf_sub=("tf", "sum")
        )
        terms = read_table(self.store, "terms", self.old_gen).to_pandas()
        sub = dec.reindex(terms["term_id"], fill_value=0)
        terms["df"] -= sub["df_sub"].to_numpy()
        terms["cf"] -= sub["cf_sub"].to_numpy()
        terms = terms[terms["df"] > 0]
        self._publish_tables(gen, codec, doc_map, terms, postings)


def repeated_key_error(key: tuple) -> ValueError:
    """The error both ADD arms raise for a batch whose natural key repeats
    with a different ``lang`` or content."""
    return ValueError(
        f"ADD batch holds more than one document for the key "
        f"(repo, path, commit) = {key!r}; keys must be unique once exact "
        f"duplicate rows are collapsed"
    )
