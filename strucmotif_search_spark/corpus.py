"""Deterministic synthetic source-code corpus generator.

Produces the exact ``input_hint`` table shape:
    (repo string, path string, commit string, lang string, content string)
seeded and fully deterministic (FIXTURES.md §1-2) — no external data.  Content
is a Zipfian token mix with real head terms (``import``, ``return``, ``def``,
``self``, ``if``, ``for``: >=1 of them lands in 92% of docs, each individual
head term in ~48% — two orders of magnitude above the Zipf body tier, the
skew drivers,
mirroring the reference's "ribosome and virus capsids" skew comment at
math/Partition.java:27-29), ~20k-identifier Zipf body vocabulary, per-repo
unique rare identifiers (df in [1,5], exercising rarest-first ordering,
ResiduePairOccurrence.java:53-57 analogue), and interleaved operators so the
tokenizer is actually exercised.

Generation is distributed: the driver plans (doc_seq) ranges, executors render
content with numpy vectorized sampling inside ``mapInPandas`` — no driver-side
materialization, so the same generator scales to the bench tier.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

HEAD_TERMS = ["import", "return", "def", "self", "if", "for"]
LANGS = ["py", "java", "js", "go", "rs"]
LANG_WEIGHTS = np.array([0.40, 0.25, 0.18, 0.10, 0.07])
EXT = {"py": "py", "java": "java", "js": "js", "go": "go", "rs": "rs"}
OPERATORS = ["(", ")", "=", "+", "->", "{", "}", ";", ".", ","]
VOCAB_SIZE = 20_000
ZIPF_S = 1.07

CORPUS_SCHEMA = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content", StringType(), False),
    ]
)


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    w /= w.sum()
    return np.cumsum(w)


def _render_partition(
    batches: Iterator[pd.DataFrame], seed: int
) -> Iterator[pd.DataFrame]:
    vocab = np.array([f"v_{i:05d}" for i in range(VOCAB_SIZE)])
    cdf = _zipf_cdf(VOCAB_SIZE, ZIPF_S)
    ops = np.array(OPERATORS)
    heads = np.array(HEAD_TERMS)
    langs = np.array(LANGS)
    lang_cdf = np.cumsum(LANG_WEIGHTS)
    for pdf in batches:
        rows = []
        for doc_seq in pdf["doc_seq"].to_numpy():
            i = int(doc_seq)
            rng = np.random.default_rng(seed * 1_000_003 + i)
            repo = f"org{i // 1024}/repo{(i // 16) % 64}"
            lang = langs[int(np.searchsorted(lang_cdf, rng.random()))]
            name = f"mod_{i % 997:03d}"
            path = f"src/d{i % 37:02d}/{name}.{EXT[lang]}"
            commit = hashlib.sha256(f"{repo}|{path}|{i}".encode()).hexdigest()[:40]
            n_lines = int(np.clip(rng.lognormal(3.4, 0.8), 1, 2000))
            n_tokens = max(3, n_lines * 4)
            # clamp: the Zipf CDF's float tail ends a few ulp below 1.0,
            # so an astronomically rare draw could index past the vocab —
            # a no-op for every realized draw, a crash guard for the tail
            body = vocab[np.minimum(
                np.searchsorted(cdf, rng.random(n_tokens)), VOCAB_SIZE - 1
            )]
            parts = [body]
            # >=1 head term in 92% of docs; each INDIVIDUAL head term
            # lands in ~48% (0.92 * E[1-(5/6)^k]) — the df-dominant tier
            if rng.random() < 0.92:
                k = rng.integers(1, 9)
                parts.append(rng.choice(heads, size=int(k)))
            if rng.random() < 0.08:  # per-repo rare identifiers, df in [1,5]
                rk = int(rng.integers(0, 3))
                parts.append(
                    np.array([f"uniq_{repo.replace('/', '_')}_{rk}"])
                )
            op_mix = rng.choice(ops, size=max(1, n_tokens // 6))
            parts.append(op_mix)
            toks = np.concatenate(parts)
            rng.shuffle(toks)
            # break into lines so content looks like source text
            per_line = max(1, toks.size // n_lines)
            lines = [
                " ".join(toks[j : j + per_line])
                for j in range(0, toks.size, per_line)
            ]
            rows.append((repo, path, commit, str(lang), "\n".join(lines)))
        yield pd.DataFrame(
            rows, columns=["repo", "path", "commit", "lang", "content"]
        )


def generate_corpus(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Deterministic corpus of ``n_docs`` rows in input_hint shape."""
    if partitions is None:
        partitions = max(8, min(64, n_docs // 250 or 1))
    seq = spark.range(0, n_docs, 1, partitions).withColumnRenamed("id", "doc_seq")
    return seq.mapInPandas(
        lambda it: _render_partition(it, seed), schema=CORPUS_SCHEMA
    )
