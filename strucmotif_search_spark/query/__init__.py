"""Query layer — the read path of the engine.

Analogue of the reference's query lifecycle (SURVEY.md §3.1):
``StructureQuery`` parse/optimize (tokenize, dedupe, rarest-first ordering)
-> ``DefaultTargetAssembler`` progressive posting intersection ->
``DefaultStrucmotifRuntime`` scoring + limit.  Here:

- planner.py — query tokenization, term dictionary lookup, df-ascending
  ordering (O1), dedup (KruskalMotifPruner analogue), empty-result early exit
  (O5), allow/deny/partition filters (P1-P3).
- daat.py    — the one BM25 top-k kernel (OR / AND / MUST+SHOULD /
  m-of-n / nested boolean): document-at-a-time scoring inside one
  grouped-cogroup pandas UDF per shard, block skip pointers, per-shard
  top-k heaps, global top-k merge.
"""

from .planner import QueryPlan, plan_query
from .daat import bm25_topk_daat

__all__ = ["QueryPlan", "plan_query", "bm25_topk_daat"]
