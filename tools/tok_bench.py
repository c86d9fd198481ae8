"""Pure-multiprocessing reproduction of the tokenize kernel's concurrency
behavior on this guest — no Spark.  Each worker runs the EXACT _tf_batches
kernel over the same synthetic batch N times; reports per-worker and
aggregate throughput at each process count.

Usage: python tools/tok_bench.py [procs ...] (default: 1 2 8)
"""

from __future__ import annotations

import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from strucmotif_search_spark.session import _pin_allocators  # noqa: E402

_pin_allocators()

N_DOCS_PER_BATCH = 2000
N_BATCHES = 8


def _make_batch():
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    vocab = np.array([f"v_{i:05d}" for i in range(5000)])
    texts = [
        " ".join(vocab[rng.integers(0, 5000, 120)]) for _ in range(N_DOCS_PER_BATCH)
    ]
    return pd.DataFrame(
        {"doc_id": np.arange(N_DOCS_PER_BATCH, dtype=np.int64), "content": texts}
    )


def worker(_i: int) -> float:
    from strucmotif_search_spark.tokenizer import _tf_batches

    pdf = _make_batch()
    # warm-up batch (allocator high-water mark, import costs)
    list(_tf_batches(iter([pdf])))
    t0 = time.time()
    for _ in range(N_BATCHES):
        for out in _tf_batches(iter([pdf])):
            pass
    dt = time.time() - t0
    return (N_DOCS_PER_BATCH * N_BATCHES) / dt  # docs/sec in this worker


def main() -> None:
    counts = [int(x) for x in sys.argv[1:]] or [1, 2, 8]
    for procs in counts:
        with mp.Pool(procs) as pool:
            t0 = time.time()
            rates = pool.map(worker, range(procs))
            wall = time.time() - t0
        agg = sum(rates)
        print(
            f"{procs:>2} procs: per-worker {min(rates):.0f}-{max(rates):.0f} "
            f"docs/s, aggregate {agg:.0f} docs/s (wall {wall:.1f}s)",
            flush=True,
        )


if __name__ == "__main__":
    main()
