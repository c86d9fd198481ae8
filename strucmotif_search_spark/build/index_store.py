"""IndexStore — on-disk index layout with snapshot-atomic publication and an
append-only lineage log.

The reference publishes a merged index by writing to a temp bundle and
atomically renaming it over production (io/DefaultInvertedIndex.java:233-235,
260-264), and tracks in-flight work in ``dirty.list``
(io/DefaultStateRepository.java:100-116) so a crashed update can RECOVER
(update/StrucmotifUpdate.java:532-546).  In the new engine the same contract
is expressed as *generations* + a CURRENT pointer (on a real deployment this
role is played by Iceberg snapshot commits; this store is a dependency-free
stand-in with identical semantics):

    root/
      gen-000001/{doc_map,terms,stats,postings,...}/   # immutable tables
      _partials/gen-000001/                            # build's scratch spill
      _lineage.jsonl                                   # append-only WAL
      CURRENT                                          # atomic pointer

Readers resolve CURRENT once; a build writes into an unpublished gen dir and
flips CURRENT via atomic ``os.replace`` only after every stage committed —
readers never observe a partial merge.  The lineage log is the dirty-list
analogue: each (gen, stage) transition is appended with metrics, and a
resumed build skips stages whose terminal event is already logged (recovery
protocol T1-T3 in SURVEY.md §2.8).
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession

TABLES = ["doc_map", "terms", "stats", "postings"]


def has_data(path: str | os.PathLike) -> bool:
    """Whether a table directory holds a data file.  Spark writes a
    bucketed table of no rows as a directory with only ``_SUCCESS``."""
    return any(
        p.is_file() and not p.name.startswith(("_", "."))
        for p in Path(path).rglob("*")
    )


def scan_postings(
    parts: list[tuple[ds.Dataset, list[int]]], columns, where: pc.Expression
) -> list[pa.Table]:
    """``columns`` of the rows matching ``where`` in each posting part of
    :meth:`IndexStore.posting_datasets`, each part minus its excluded
    shards (the pyarrow form of ``IndexStore.read_postings``)."""
    tables = []
    for dset, excl in parts:
        part_where = where & ~pc.field("shard").isin(excl) if excl else where
        tables.append(dset.to_table(columns=list(columns), filter=part_where))
    return tables


class IndexStore:
    def __init__(self, root: str | os.PathLike):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        # serializes _buckets.json read-modify-write: the fused build writes
        # norms (ThreadPoolExecutor thread) and postings (main thread)
        # bucketed concurrently
        self._buckets_lock = threading.Lock()

    # ---- generations -------------------------------------------------
    def meta(self, gen: str) -> dict:
        """A generation's ``_meta.json``: its layout (``docs_per_shard``,
        shard and chunk counts, ``with_positions``, ``analyzer``)."""
        return json.loads((self.root / gen / "_meta.json").read_text())

    def current_gen(self) -> str | None:
        cur = self.root / "CURRENT"
        if not cur.exists():
            return None
        return cur.read_text().strip() or None

    def current_dir(self) -> Path:
        gen = self.current_gen()
        if gen is None:
            raise FileNotFoundError(f"no published index under {self.root}")
        return self.root / gen

    def new_gen(self) -> str:
        existing = sorted(p.name for p in self.root.glob("gen-*"))
        n = int(existing[-1].split("-")[1]) + 1 if existing else 1
        gen = f"gen-{n:06d}"
        (self.root / gen).mkdir(parents=True, exist_ok=True)
        return gen

    def publish(self, gen: str) -> None:
        """Atomic pointer flip — the bundle-swap analogue
        (DefaultInvertedIndex.java:260-264)."""
        tmp = self.root / f".CURRENT.{uuid.uuid4().hex}"
        tmp.write_text(gen + "\n")
        os.replace(tmp, self.root / "CURRENT")

    def referenced_gens(self, gen: str | None = None) -> set[str]:
        """Generations reachable from ``gen`` (default CURRENT): the gen
        itself plus every generation whose posting files its `_refs.json`
        names.  Refs are written FLATTENED (incremental._carry_refs carries
        ancestors forward), so one level covers the whole chain; paths
        outside this store's root are ignored (never deleted)."""
        gen = gen or self.current_gen()
        if gen is None:
            return set()
        live = {gen}
        for path, _excl in self.posting_parts(gen):
            try:
                rel = Path(path).relative_to(self.root)
            except ValueError:
                continue
            if rel.parts:
                live.add(rel.parts[0])
        return live

    def posting_parts(self, gen: str | None = None) -> list[tuple[str, list[int]]]:
        """A generation's posting files as ``[(path, exclude_shards)]``:
        its own ``postings`` dir when it holds data files (excluding nothing),
        then every `_refs.json` reference to a prior generation's postings
        with its delete predicate.  The one reader of the refs format: a
        ref path is relative to the store root (``ref_path``), or absolute
        as older generations wrote it."""
        gen = gen or self.current_gen()
        parts: list[tuple[str, list[int]]] = []
        base = self.root / gen / "postings"
        if base.exists() and has_data(base):
            parts.append((str(base), []))
        refs_file = self.root / gen / "_refs.json"
        if refs_file.exists():
            parts += [
                (str(self.root / r["path"]), sorted(r.get("exclude_shards", [])))
                for r in json.loads(refs_file.read_text())
            ]
        return parts

    def posting_datasets(self, gen: str) -> list[tuple[ds.Dataset, list[int]]]:
        """``posting_parts`` opened as pyarrow datasets (for
        :func:`scan_postings`)."""
        return [
            (ds.dataset(path, format="parquet"), excl)
            for path, excl in self.posting_parts(gen)
        ]

    def ref_path(self, path: str) -> str:
        """How `_refs.json` names a posting path: relative to the store
        root when it lies under it, so a store can be moved or copied
        whole."""
        try:
            return str(Path(path).relative_to(self.root))
        except ValueError:
            return path

    def expire_generations(self, keep_last: int = 0) -> list[str]:
        """Delete generation dirs (and their stage-1 partials) that are NOT
        reachable from CURRENT — the Iceberg ``expire_snapshots`` analogue
        for this stand-in store (README "Iceberg contract" table).  Disk
        for a long-lived index otherwise grows by one full generation per
        compact() and one delta per ADD/REMOVE forever.

        Safety invariants:
        - the CURRENT generation and every generation its (flattened) refs
          name are never touched;
        - generations NEWER than CURRENT are never touched (an in-flight
          unpublished build writes into a new gen dir before the pointer
          flips);
        - ``keep_last`` additionally retains the N most recent expired
          candidates (time-travel window, like Iceberg's
          ``older_than`` retention);
        - the lineage WAL is append-only and kept — expiry is itself
          logged, so the audit trail records what was removed and why.
        """
        import shutil

        cur = self.current_gen()
        if cur is None:
            return []
        live = self.referenced_gens(cur)
        gens = sorted(p.name for p in self.root.glob("gen-*"))
        candidates = [g for g in gens if g not in live and g < cur]
        if keep_last:
            candidates = candidates[:-keep_last] if keep_last < len(
                candidates
            ) else []
        removed = []
        for g in candidates:
            shutil.rmtree(self.root / g, ignore_errors=True)
            shutil.rmtree(self.root / "_partials" / g, ignore_errors=True)
            removed.append(g)
        if removed:
            self.log(
                stage="expire", status="done", removed=removed,
                keep_last=keep_last,
            )
        return removed

    # ---- tables ------------------------------------------------------
    def table_path(self, name: str, gen: str | None = None) -> str:
        base = self.root / (gen or self.current_gen() or "")
        return str(base / name)

    def write_table(self, df: DataFrame, name: str, gen: str) -> None:
        df.write.mode("overwrite").parquet(self.table_path(name, gen))

    def read_table(self, spark: SparkSession, name: str, gen: str | None = None) -> DataFrame:
        return spark.read.parquet(self.table_path(name, gen))

    # ---- bucketed tables ---------------------------------------------
    # Postings and norms are BUCKETED BY shard (hash(shard) % n_buckets,
    # Spark's Murmur3 — identical to repartition()'s partitioner).  Payoff:
    # the query path's cogroup(postings, norms) on `shard` reads both sides
    # already hash-clustered, so Catalyst satisfies the cogroup's
    # ClusteredDistribution straight from the scan — a BM25 query is ONE
    # exchange-free stage plus a TakeOrderedAndProject, at any corpus size.
    # This is the "bucketing for co-located joins" scale shape: on a 1000-
    # executor cluster a query never shuffles posting payloads.  Bucket
    # metadata lives in the session catalog; since generations are plain
    # directories, each reader session (re)registers an external bucketed
    # table pointing at the generation path (names are content-addressed so
    # concurrent stores/generations never collide).  Files remain ordinary
    # parquet — any non-bucket-aware reader (DuckDB oracle, refs from
    # incremental gens) reads the same files by path.

    def bucket_table_name(self, name: str, gen: str) -> str:
        import hashlib

        digest = hashlib.md5(
            f"{self.root.resolve()}::{gen}::{name}".encode()
        ).hexdigest()[:12]
        return f"smsp_{name}_{digest}"

    def _buckets_meta(self, gen: str) -> dict:
        p = self.root / gen / "_buckets.json"
        if not p.exists():
            return {}
        return json.loads(p.read_text())

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        gen: str,
        n_buckets: int,
        sort_cols: tuple[str, ...] = (),
        bucket_col: str = "shard",
    ) -> None:
        path = self.table_path(name, gen)
        tbl = self.bucket_table_name(name, gen)
        w = (
            df.write.format("parquet")
            .mode("overwrite")
            .option("path", path)
            .bucketBy(n_buckets, bucket_col)
        )
        if sort_cols:
            w = w.sortBy(sort_cols[0], *sort_cols[1:])
        w.saveAsTable(tbl)
        with self._buckets_lock:
            meta = self._buckets_meta(gen)
            meta[name] = {
                "n_buckets": n_buckets,
                "bucket_col": bucket_col,
                "sort_cols": list(sort_cols),
            }
            # temp-file + os.replace: a concurrent reader never sees a torn
            # write (plain write_text is not atomic)
            tmp = self.root / gen / f"._buckets.{uuid.uuid4().hex}.json"
            tmp.write_text(json.dumps(meta))
            os.replace(tmp, self.root / gen / "_buckets.json")

    def read_bucketed(
        self, spark: SparkSession, name: str, gen: str | None = None
    ) -> DataFrame:
        """Bucket-aware read: registers (once per session) an external
        bucketed table over the generation directory and reads through the
        catalog so the scan reports hash(shard) output partitioning.  Falls
        back to a plain parquet read when the table was not written
        bucketed (older gens, incremental bundles).  A directory with no
        data file reads as no rows of the table's schema."""
        gen = gen or self.current_gen()
        meta = self._buckets_meta(gen).get(name)
        path = self.table_path(name, gen)
        if not has_data(path):  # no file, so no schema to infer
            from ..session import local_frame

            return local_frame(spark, [], self.bucketed_schema(name, gen))
        if meta is None:
            return spark.read.parquet(path)
        tbl = self.bucket_table_name(name, gen)
        if not spark.catalog.tableExists(tbl):
            schema = spark.read.parquet(path).schema
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in schema.fields
            )
            sort = (
                " SORTED BY ({}) ".format(", ".join(meta["sort_cols"]))
                if meta["sort_cols"]
                else " "
            )
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {tbl} ({cols}) USING PARQUET "
                f"CLUSTERED BY ({meta['bucket_col']}){sort}"
                f"INTO {meta['n_buckets']} BUCKETS LOCATION '{path}'"
            )
        return spark.table(tbl)

    def bucketed_schema(self, name: str, gen: str):
        """The schema of a bucketed table (``norms`` or ``postings``)."""
        from .norms import NORMS_SCHEMA
        from .postings import POSTINGS_POS_SCHEMA, POSTINGS_SCHEMA

        if name == "norms":
            return NORMS_SCHEMA
        # a build reads its postings back before it writes _meta.json
        with_pos = (self.root / gen / "_meta.json").exists() and bool(
            self.meta(gen).get("with_positions")
        )
        return POSTINGS_POS_SCHEMA if with_pos else POSTINGS_SCHEMA

    def read_postings(self, spark: SparkSession, gen: str | None = None) -> DataFrame:
        """Resolve a generation's postings: the union of its
        ``posting_parts``, each ref with its ``exclude_shards`` predicate
        (the Iceberg data-file + delete-predicate shape used by incremental
        ADD/REMOVE).  A generation with no posting file reads as no rows."""
        from pyspark.sql import functions as F

        from ..session import local_frame

        gen = gen or self.current_gen()
        own = self.table_path("postings", gen)
        # canonical projection per part: parts come from heterogeneous
        # layouts (flat bucketed files, chunk=N partition dirs of older
        # builds, chunk=add/remove repacks) whose discovered schemas differ by
        # partition columns — project each to the one true POSTINGS schema
        # before the union (schema contract, not discovery accident)
        schema = self.bucketed_schema("postings", gen)
        canon = [f.name for f in schema]
        parts = []
        for path, excl in self.posting_parts(gen):
            if path == own:
                # bucket-aware when written bucketed (exchange-free
                # queries); a union with refs keeps correctness but drops
                # the bucketed output partitioning — incremental gens pay
                # one query-time exchange until compact() restores it
                df = self.read_bucketed(spark, "postings", gen)
            else:
                df = spark.read.parquet(path)
            if excl:
                df = df.where(~F.col("shard").isin(excl))
            parts.append(df.select(*canon))
        if not parts:
            return local_frame(spark, [], schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def partials_path(self, gen: str) -> str:
        return str(self.root / "_partials" / gen)

    # ---- lineage WAL ---------------------------------------------------
    @property
    def lineage_path(self) -> Path:
        return self.root / "_lineage.jsonl"

    def log(self, **event) -> None:
        event.setdefault("ts", time.time())
        with open(self.lineage_path, "a") as f:
            f.write(json.dumps(event, sort_keys=True) + "\n")
            f.flush()
            os.fsync(f.fileno())

    def lineage(self) -> list[dict]:
        if not self.lineage_path.exists():
            return []
        out = []
        with open(self.lineage_path) as f:
            for line in f:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
        return out

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        return spark.read.json(str(self.lineage_path))

    def stage_done(self, gen: str, stage: str) -> bool:
        return any(
            e.get("gen") == gen
            and e.get("stage") == stage
            and e.get("status") == "done"
            and "chunk" not in e
            for e in self.lineage()
        )
