"""doc_map — the document dictionary (docID ledger).

Analogue of ``known.list`` + ``StructureIndexProvider``
(io/DefaultStateRepository.java:41-61, io/DefaultStructureIndexProvider.java):
maps the natural document key to a dense deterministic ``doc_id`` and records
the per-row invariants: ``content_sha256`` (input_hint contract) and
``doclen`` (BM25 length normalization).

Schema: (doc_id long, repo str, path str, commit str, lang str,
         content_sha256 str, doclen long, shard int)

``shard`` is the document-axis partition: ``doc_id // docs_per_shard``.  The
index is *document-sharded* — every shard holds the postings of its own doc
range for all terms.  This is the engine's head-term skew strategy: the
posting list of ``import`` (df ~ N) is split across all shards by
construction, so no single task ever owns a full head-term list (the
reference's analogous move is shuffling the doc axis before chunking,
math/Partition.java:27-29, plus term-prefix partitioning, Context.java:50-52).
"""

DOC_KEY = ["repo", "path", "commit"]
