"""The benchmark's workloads, driven through the public engine API.

``search_warm``      closed loop, one client: seeded searches against a warm
                     SearchEngine over a freshly built index.
``ingest_maintain``  one caller: a from-scratch build, then a seeded sequence
                     of ADD and REMOVE batches and a compaction, each
                     followed by the first search on the new generation.

Every answer is checked against the brute-force oracle over the corpus of
the generation that produced it, after the timed part.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from strucmotif_search_spark import oracle
from strucmotif_search_spark.build.builder import build_index
from strucmotif_search_spark.build.index_store import IndexStore
from strucmotif_search_spark.corpus import generate_corpus
from strucmotif_search_spark.engine import SearchEngine
from strucmotif_search_spark.query.daat import bm25_topk_daat
from strucmotif_search_spark.session import get_spark
from strucmotif_search_spark.streaming.incremental import (
    add_documents, compact, remove_documents, verify_consistency,
)
from strucmotif_search_spark.tokenizer import analyze_text

from . import inputs
from .measure import (
    BUILD_STAGES, StealMeter, build_stage_walls, dir_bytes, mean, median,
    percentile,
)
from .tracing import Tracer

N_DOCS = 12_000        # corpus size
DOCS_PER_SHARD = 8192  # build_index's default
N_SHARDS = -(-N_DOCS // DOCS_PER_SHARD)
MIN_BLOCKS = 2         # 26 searches: every template twice; 10 beyond p60
QUERY_POOL = 40 * inputs.BLOCK  # seeded searches generated; a run uses a prefix
ENGINE_OPENS = 5       # search_warm set-up: engine opens, median reported
QUERY_TIMEOUT_S = 30.0  # a slower answer counts as failed
ROUNDS = 2             # ingest_maintain: ADD batch + REMOVE batch, this often
ADD_DOCS = 200         # per ADD batch
REMOVE_DOCS = 100      # per REMOVE batch
DRIVER_MEMORY = "2g"
T0 = time.perf_counter()  # process start, for the phase log
# set-up warm-up: two head terms every seeded corpus contains
WARMUP = {"name": "warmup", "query": "import return", "k": 10, "mode": "or",
          "should": None, "exclude": None, "expansions": None, "shape": "or"}

# per-layer metrics of the traced run, with units
LAYER_UNITS = {
    "tokenizer.analyze_ms": "ms", "planner.plan_ms": "ms",
    "planner.jobs": "count", "daat.topk_ms": "ms", "daat.jobs": "count",
    "daat.stages": "count", "daat.tasks": "count",
    "daat.candidate_postings": "count", "daat.empty_plan_jobs": "count",
    "engine.search_ms": "ms", "engine.materialize_ms": "ms",
    "engine.jobs_per_search": "count", "engine.tasks_per_search": "count",
    "engine.open_ms": "ms", "index_store.refs_parts": "count",
    **{f"builder.{s}_ms": "ms" for s in BUILD_STAGES},
    "builder.self_ms": "ms", "builder.n_postings": "count",
    "builder.n_blocks": "count", "builder.jobs": "count",
    "builder.tasks": "count",
    "incremental.add_ms": "ms", "incremental.remove_ms": "ms",
    "incremental.compact_ms": "ms", "incremental.affected_shards": "count",
    "incremental.bytes_written": "bytes", "incremental.jobs": "count",
    "index_store.n_shards": "count",
    "index_store.postings_bytes": "bytes",
    "index_store.doc_map_bytes": "bytes",
    "index_store.terms_bytes": "bytes", "index_store.norms_bytes": "bytes",
    "session.start_s": "s", "corpus.generate_s": "s", "setup.build_s": "s",
    "trace.overhead_ms": "ms", "host.steal_pct": "%",
}


def open_session(work: Path):
    """local[nproc] session whose scratch space lives under ``work``."""
    return get_spark(
        "perfbench",
        cores=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


class Run:
    """State of one benchmark run: settings, tracer, outcomes."""

    def __init__(self, spark, work: Path, seed: int, seconds: int,
                 trace: bool, session_s: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.session_s = session_s
        self.tracer = Tracer(spark.sparkContext, trace)
        self.attempted = 0
        self.failures: list[str] = []
        self.answers: list[tuple[str, dict, list]] = []  # (gen, spec, hits)
        self.extra: dict[str, float] = {}  # per-layer values measured aside
        self.steal = StealMeter()  # over the timed part

    def note(self, phase: str) -> None:
        """Log on stderr when a phase of the run ended."""
        print(f"perfbench: {phase} done at {time.perf_counter() - T0:.1f} s",
              file=sys.stderr)

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def attempt(self, what: str, fn, *args, **kw):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception:  # noqa: BLE001 — a failed operation is a result
            self.fail(f"{what}: {traceback.format_exc(limit=3)}")
            return None


# ---- layer calls ----------------------------------------------------------

def make_corpus(run: Run, n: int, seed: int, path: Path | None,
                repo_prefix=""):
    """``generate_corpus(n, seed)``, persisted as parquet at ``path``, or
    collected to pandas when ``path`` is None."""
    with run.tracer.span("corpus.generate", "setup"):
        docs = generate_corpus(run.spark, n, seed=seed)
        if repo_prefix:
            docs = docs.withColumn(
                "repo", F.concat(F.lit(repo_prefix), "repo"))
        if path is None:
            return docs.schema, docs.toPandas()
        docs.write.parquet(str(path))
    return run.spark.read.parquet(str(path))


def traced_build(run: Run, docs, store: IndexStore, req: str) -> tuple:
    """Default-argument build; returns (gen, wall seconds).  The traced run
    adds one child span per lineage stage the build logged."""
    with run.tracer.span("builder.build_index", req) as rec:
        gen = build_index(run.spark, docs, store)
    offset = time.time() - time.perf_counter()
    for stage, a, b, ev in build_stage_walls(store.lineage(), gen):
        run.tracer.add(f"builder.{stage}", req, rec["id"], a - offset,
                       b - offset, n_postings=ev.get("n_postings", 0),
                       n_blocks=ev.get("n_blocks", 0))
    return gen, rec["end"] - rec["start"]


def open_engine(run: Run, store: IndexStore, req: str) -> SearchEngine:
    with run.tracer.span("engine.open", req) as rec:
        eng = SearchEngine(run.spark, store)
    refs = store.root / eng.gen / "_refs.json"
    rec["refs_parts"] = 1 + (len(json.loads(refs.read_text()))
                             if refs.exists() else 0)
    return eng


def search(run: Run, eng: SearchEngine, spec: dict, req: str):
    """One search with metadata, collected: (hits, span)."""
    with run.tracer.span("engine.search", req, shape=spec["shape"]) as rec:
        rows = eng.search(
            spec["query"], k=spec["k"], mode=spec["mode"], with_meta=True,
            expansions=spec["expansions"], exclude=spec["exclude"],
            should=spec["should"],
        ).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows], rec


def timed_search(run: Run, eng: SearchEngine, spec: dict, req: str):
    """``search`` timed from outside, so a traced call's wall includes the
    job-group set-up, the listener-bus drain and the status reads tracing
    adds: (hits, ms, span), or None if it raised."""
    t0 = time.perf_counter()
    out = run.attempt(req, search, run, eng, spec, req)
    ms = (time.perf_counter() - t0) * 1000
    return None if out is None else (out[0], ms, out[1])


def replay(run: Run, eng: SearchEngine, spec: dict, req: str, parent: dict):
    """Re-run one search through the layer calls ``SearchEngine.search``
    makes, in its order, each under its own span: analyze -> plan -> DAAT
    top-k.  Returns the top-k (doc_id, score) pairs."""
    with run.tracer.span("tokenizer.analyze", req, parent["id"]):
        query = analyze_text(spec["query"], eng.analyzer)
        exclude = (analyze_text(spec["exclude"], eng.analyzer)
                   if spec["exclude"] else None)
        should = (analyze_text(spec["should"], eng.analyzer)
                  if spec["should"] is not None else None)
        if should is not None and not oracle.tokenize(should):
            should = None
    with run.tracer.span("planner.plan", req, parent["id"]):
        plan = eng.plan(query, expansions=spec["expansions"],
                        should=should or "")
        exclude_ids = sorted(
            tid for g in eng.plan(exclude).groups for tid in g.member_ids
        ) if exclude else []
    mode = "bool" if should is not None else spec["mode"]
    volume = sum(g.df for g in plan.groups)
    parent["empty_plan"] = plan.empty_or or (
        mode in ("and", "bool") and plan.empty_and)
    with run.tracer.span("daat.topk", req, parent["id"],
                         candidate_postings=volume):
        rows = bm25_topk_daat(
            run.spark, eng.postings, eng.norms, plan,
            docs_per_shard=eng.meta["docs_per_shard"], k=spec["k"],
            mode=mode,
            prune_shards=(eng.meta.get("n_shards") or 0) > 64
            and volume > 2_000_000,
            exclude_ids=exclude_ids or None,
        ).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def checked_search(run: Run, eng: SearchEngine, spec: dict, req: str,
                   cold: bool = False):
    """A search whose answer is kept for the oracle check; in the traced
    run it is then replayed layer by layer and the replay must agree.
    ``cold``: the search was the engine's first, so the replay runs on a
    new engine with uncached norms and pays what that search paid.
    Returns the search's ms (replay excluded), or None if it failed."""
    out = timed_search(run, eng, spec, req)
    if out is None:
        return None
    hits, ms, rec = out
    run.answers.append((eng.gen, spec, hits))
    if ms > QUERY_TIMEOUT_S * 1000:
        run.fail(f"{req}: {ms:.0f} ms exceeds the {QUERY_TIMEOUT_S} s limit")
    if run.trace:
        if cold:
            eng.norms.unpersist()
            eng = SearchEngine(run.spark, eng.store, gen=eng.gen)
        again = run.attempt(f"{req} replay", replay, run, eng, spec, req, rec)
        if again is not None and again != hits:
            run.fail(f"{req}: replayed layers disagree with search() {spec}")
    return ms


# ---- checks ---------------------------------------------------------------

class KeyedOracle:
    """The oracle's index, kept by natural key so that one tokenization of
    every document ever indexed serves each generation.

    Only the postings of the terms the checked searches name are kept: a
    search's scores depend on its own terms' postings, the document count
    and the document lengths, so ``oracle.bm25_topk`` over this index
    equals it over ``oracle.build_oracle`` of the whole corpus."""

    def __init__(self, content: dict, terms: set[str]):
        self.doclen: dict[tuple, int] = {}
        self.tf: dict[str, dict[tuple, int]] = {t: {} for t in terms}
        for key, text in content.items():
            toks = oracle.tokenize(text)
            self.doclen[key] = len(toks)
            for t in terms.intersection(toks):
                self.tf[t][key] = toks.count(t)

    def index(self, doc_ids: list[int], keys: list[tuple]):
        """The oracle index of the generation whose doc_map maps
        ``keys[i]`` to ``doc_ids[i]``."""
        id_of = dict(zip(keys, doc_ids))
        order = sorted(range(len(keys)), key=doc_ids.__getitem__)
        postings = {}
        for t, by_key in self.tf.items():
            pairs = sorted((id_of[k], tf) for k, tf in by_key.items()
                           if k in id_of)
            if pairs:
                ds, tfs = zip(*pairs)
                postings[t] = (np.asarray(ds, dtype=np.int64),
                               np.asarray(tfs, dtype=np.int64))
        return oracle.OracleIndex(
            doc_ids=np.asarray([doc_ids[i] for i in order], dtype=np.int64),
            doclens=np.asarray([self.doclen[keys[i]] for i in order],
                               dtype=np.int64),
            postings=postings)


def spec_terms(spec: dict) -> set[str]:
    """Every term a search spec names, in any clause."""
    text = " ".join([spec["query"], spec["should"] or "",
                     spec["exclude"] or "",
                     *(w for syns in (spec["expansions"] or {}).values()
                       for w in syns)])
    return set(oracle.tokenize(text))


def check_answers(run: Run, store: IndexStore, content: dict) -> None:
    """Compare every kept answer with ``oracle.bm25_topk`` over the corpus
    of its generation: same doc ids, bitwise-equal float64 scores.  Doc ids
    map through the generation's doc_map natural keys; term ids from its
    terms table fix the summation order after an ADD."""
    by_gen: dict[str, list] = defaultdict(list)
    for gen, spec, hits in run.answers:
        by_gen[gen].append((spec, hits))
    keyed = KeyedOracle(content, set().union(
        *(spec_terms(spec) for _, spec, _ in run.answers)))
    for gen, answers in by_gen.items():
        dm = store.read_table(run.spark, "doc_map", gen).select(
            "doc_id", *inputs.KEY).toPandas()
        index = keyed.index(dm.doc_id.astype(int).tolist(),
                            list(zip(dm.repo, dm.path, dm.commit)))
        terms = store.read_table(run.spark, "terms", gen).select(
            "term", "term_id").toPandas()
        order = dict(zip(terms.term, terms.term_id.astype(int)))
        for spec, hits in answers:
            want = oracle.bm25_topk(
                index, spec["query"], k=spec["k"], mode=spec["mode"],
                expansions=spec["expansions"], exclude=spec["exclude"],
                should=spec["should"], term_order=order,
            )
            if hits != want:
                run.fail(f"oracle mismatch on {gen}: {spec}")


def content_by_key(*pdfs: pd.DataFrame) -> dict:
    return {k: c for pdf in pdfs for k, c in
            zip(zip(pdf.repo, pdf.path, pdf.commit), pdf.content)}


def term_dfs(run: Run, store: IndexStore, gen: str) -> dict[str, int]:
    t = store.read_table(run.spark, "terms", gen).select(
        "term", "df").toPandas()
    return dict(zip(t.term, t.df.astype(int)))


def table_bytes(run: Run, store: IndexStore, gen: str) -> None:
    for t in ("postings", "doc_map", "terms", "norms"):
        run.extra[f"index_store.{t}_bytes"] = dir_bytes(store.root / gen / t)
    meta = json.loads((store.root / gen / "_meta.json").read_text())
    run.extra["index_store.n_shards"] = meta["n_shards"]


# ---- workloads ------------------------------------------------------------

def search_warm(run: Run) -> dict:
    t0 = time.perf_counter()
    docs = make_corpus(run, N_DOCS, run.seed, run.work / "corpus")
    corpus_s = time.perf_counter() - t0
    store = IndexStore(run.work / "index")
    gen, build_s = traced_build(run, docs, store, "setup")
    opens = []
    eng = None
    for i in range(ENGINE_OPENS):
        if eng is not None:
            eng.norms.unpersist()  # each open re-caches its norms
        t1 = time.perf_counter()
        eng = open_engine(run, store, f"setup-open-{i}")
        search(run, eng, WARMUP, f"setup-warmup-{i}")
        opens.append(time.perf_counter() - t1)
    setup_s = run.session_s + corpus_s + build_s + median(opens)
    run.note("set-up")

    queries = inputs.make_queries(
        run.seed, term_dfs(run, store, gen), N_DOCS, QUERY_POOL)
    lat: list[float] = []
    run.steal.start()
    start = time.perf_counter()
    if run.trace:
        # each search runs untraced and traced + replayed, alternating which
        # goes first (the first run of a query shape also compiles its
        # plan); the difference of the medians is the tracing overhead
        traced: list[float] = []
        for i, spec in enumerate(queries):
            if i % inputs.BLOCK == 0 and i > 0 \
                    and time.perf_counter() - start >= run.seconds:
                break
            for traced_turn in ((False, True) if i % 2 else (True, False)):
                run.tracer.enabled = traced_turn
                if traced_turn:
                    ms = checked_search(run, eng, spec, f"q{i}")
                    if ms is not None:
                        traced.append(ms)
                else:
                    out = timed_search(run, eng, spec, "untraced")
                    if out is not None:
                        lat.append(out[1])
        run.tracer.enabled = True
        run.extra["trace.overhead_ms"] = median(traced) - median(lat)
    else:
        for i, spec in enumerate(queries):
            # stop only between whole blocks, so every run sends the mix's
            # exact composition
            if i % inputs.BLOCK == 0 and i >= MIN_BLOCKS * inputs.BLOCK \
                    and time.perf_counter() - start >= run.seconds:
                break
            ms = checked_search(run, eng, spec, f"q{i}")
            if ms is not None:
                lat.append(ms)
    wall = time.perf_counter() - start
    run.steal.stop()
    run.note("timed part")

    pdf = docs.toPandas()
    check_answers(run, store, content_by_key(pdf))
    run.note("oracle check")
    cbytes = inputs.content_bytes(pdf)
    table_bytes(run, store, gen)
    run.extra.update({
        "session.start_s": run.session_s, "corpus.generate_s": corpus_s,
        "setup.build_s": build_s,
    })
    print(f"perfbench: search_warm {len(lat)} searches in {wall:.1f} s, "
          f"corpus {inputs.corpus_hash(pdf)[:12]}", file=sys.stderr)
    return {
        "setup_s": setup_s,
        "op_p50_ms": median(lat),
        "op_p60_ms": percentile(lat, 60),
        "ops_per_s": len(lat) / wall,
        "build_docs_per_s": N_DOCS / build_s,
        "rewrite_docs_per_s": N_DOCS / build_s,
        "first_answer_ms": median(opens) * 1000,
        "index_bytes_per_content_byte": dir_bytes(store.root / gen) / cbytes,
        "store_bytes_per_content_byte": dir_bytes(store.root) / cbytes,
    }


def ingest_maintain(run: Run) -> dict:
    spark = run.spark
    t0 = time.perf_counter()
    docs = make_corpus(run, N_DOCS, run.seed, run.work / "corpus")
    add_schema, add_pdf = make_corpus(
        run, ROUNDS * ADD_DOCS, inputs.add_seed(run.seed), None,
        repo_prefix="added/")
    base_pdf = docs.toPandas()
    # the seeded batch sequence: ADD batch r, then a REMOVE batch from
    # shard r of the base documents
    base = sorted(zip(base_pdf.repo, base_pdf.path, base_pdf.commit))
    live = set(base)
    batches = []
    for r, batch in enumerate(inputs.add_batches(add_pdf, ROUNDS)):
        live.update(zip(batch.repo, batch.path, batch.commit))
        victims = inputs.remove_keys(run.seed, r, base, live, REMOVE_DOCS,
                                     r % N_SHARDS, DOCS_PER_SHARD)
        live.difference_update(victims)
        batches.append((
            spark.createDataFrame(batch, schema=add_schema),
            spark.createDataFrame(pd.DataFrame(victims, columns=inputs.KEY)),
        ))
    corpus_s = time.perf_counter() - t0
    setup_s = run.session_s + corpus_s
    run.note("set-up")

    store = IndexStore(run.work / "index")
    firsts: list[float] = []
    ops: dict[str, list[float]] = defaultdict(list)
    sizes: list[int] = []  # store root bytes after the build and each commit

    def probe(req: str) -> None:
        t1 = time.perf_counter()
        eng = run.attempt(req, open_engine, run, store, req)
        if eng is None:
            return
        ms = checked_search(run, eng, probe_spec, req, cold=True)
        if ms is not None:
            firsts.append((time.perf_counter() - t1) * 1000)
        eng.norms.unpersist()

    def commit(name: str, fn, *args) -> None:
        with run.tracer.span(f"incremental.{name}", name) as rec:
            out = run.attempt(name, fn, spark, store, *args)
        if out is not None:
            ops[name].append((rec["end"] - rec["start"]) * 1000)
            sizes.append(dir_bytes(store.root))
            probe(f"probe-{name}-{len(ops[name])}")

    run.steal.start()
    run.attempted += 1
    gen, build_s = traced_build(run, docs, store, "build")
    probe_spec = inputs.probe_query(run.seed, term_dfs(run, store, gen),
                                    N_DOCS)
    sizes.append(dir_bytes(store.root))
    for add_df, remove_df in batches:
        commit("add", add_documents, add_df)
        commit("remove", remove_documents, remove_df)
    store_bytes = sizes[-1]
    commit("compact", compact)
    run.steal.stop()
    run.note("timed part")

    run.attempted += 1
    report = verify_consistency(spark, store)
    if any(report.values()):
        run.fail(f"verify_consistency: {report}")
    run.note("verify_consistency")
    content = content_by_key(base_pdf, add_pdf)
    check_answers(run, store, content)
    run.note("oracle check")
    live_bytes = sum(len(content[k].encode()) for k in live)
    final = store.current_gen()
    table_bytes(run, store, final)
    churn = [e.get("affected_shards", 0) for e in store.lineage()
             if e.get("status") == "done" and e.get("stage") in
             ("add", "remove")]
    run.extra.update({
        "session.start_s": run.session_s, "corpus.generate_s": corpus_s,
        "setup.build_s": 0.0,
        "incremental.affected_shards": mean(churn),
        "incremental.bytes_written": mean(
            [b - a for a, b in zip(sizes, sizes[1:])]),
    })
    print(f"perfbench: ingest_maintain ops {dict(ops)}", file=sys.stderr)
    # one op is one churn round: an ADD batch and the REMOVE batch after it
    rounds = [a + r for a, r in zip(ops["add"], ops["remove"])]
    compact_s = sum(ops["compact"]) / 1000
    return {
        "setup_s": setup_s,
        "op_p50_ms": median(rounds),
        "op_p60_ms": percentile(rounds, 60),
        "ops_per_s": len(rounds) / (sum(rounds) / 1000),
        "build_docs_per_s": N_DOCS / build_s,
        "rewrite_docs_per_s": len(live) / compact_s,
        "first_answer_ms": median(firsts),
        "index_bytes_per_content_byte":
            dir_bytes(store.root / final) / live_bytes,
        "store_bytes_per_content_byte": store_bytes / live_bytes,
    }


WORKLOADS = {"search_warm": search_warm, "ingest_maintain": ingest_maintain}


# ---- per-layer report -----------------------------------------------------

def layer_metrics(run: Run) -> dict[str, float]:
    """Per-layer values of a traced run; a layer the workload never calls
    reads 0."""
    spans = run.tracer.spans
    self_ms = run.tracer.self_ms()
    by: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)

    def ms(name):
        return [(s["end"] - s["start"]) * 1000 for s in by[name]]

    def per(name, field):
        return [s.get(field, 0) for s in by[name]]

    searches = [s for s in by["engine.search"] if s["req"].startswith(
        ("q", "probe"))]
    builds = by["builder.build_index"]
    commits = by["incremental.add"] + by["incremental.remove"] + \
        by["incremental.compact"]
    out = {
        "tokenizer.analyze_ms": median(ms("tokenizer.analyze")),
        "planner.plan_ms": median(ms("planner.plan")),
        "planner.jobs": mean(per("planner.plan", "jobs")),
        "daat.topk_ms": median(ms("daat.topk")),
        "daat.jobs": mean(per("daat.topk", "jobs")),
        "daat.stages": mean(per("daat.topk", "stages")),
        "daat.tasks": mean(per("daat.topk", "tasks")),
        "daat.candidate_postings": mean(
            per("daat.topk", "candidate_postings")),
        "daat.empty_plan_jobs": mean(
            [s["jobs"] for s in searches if s.get("empty_plan")]),
        "engine.search_ms": median(
            [(s["end"] - s["start"]) * 1000 for s in searches]),
        "engine.materialize_ms": median(
            [self_ms[s["id"]] for s in searches]),
        "engine.jobs_per_search": mean([s["jobs"] for s in searches]),
        "engine.tasks_per_search": mean([s["tasks"] for s in searches]),
        "engine.open_ms": median(ms("engine.open")),
        "index_store.refs_parts": mean(per("engine.open", "refs_parts")),
        "builder.self_ms": median([self_ms[s["id"]] for s in builds]),
        "builder.n_postings": sum(per("builder.partials", "n_postings")),
        "builder.n_blocks": sum(per("builder.pack", "n_blocks")),
        "builder.jobs": mean(per("builder.build_index", "jobs")),
        "builder.tasks": mean(per("builder.build_index", "tasks")),
        "incremental.add_ms": median(ms("incremental.add")),
        "incremental.remove_ms": median(ms("incremental.remove")),
        "incremental.compact_ms": median(ms("incremental.compact")),
        "incremental.jobs": mean([s["jobs"] for s in commits]),
        "incremental.affected_shards": 0, "incremental.bytes_written": 0,
        "trace.overhead_ms": 0.0,
        "host.steal_pct": run.steal.pct(),
    }
    for stage in BUILD_STAGES:
        out[f"builder.{stage}_ms"] = sum(ms(f"builder.{stage}")) / max(
            1, len(builds))
    out.update(run.extra)
    missing = set(LAYER_UNITS) - set(out)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    return {name: out[name] for name in LAYER_UNITS}
