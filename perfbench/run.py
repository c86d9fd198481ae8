"""Benchmark entry point.

    python3 perfbench/run.py --workload search_warm --seed 1 \
        --seconds 20 --trace 0

Builds its inputs from ``--seed``, drives the engine for about ``--seconds``
seconds of timed work, checks every answer against the oracle, and prints
one JSON object as the last line of standard output: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``.  All scratch data lives under ``.perfbench_work/`` in the
checkout and is removed at exit; a traced run also writes its spans to
``.perfbench_out/``.  Exits non-zero, printing no result, when the program
cannot be imported or a run cannot finish.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("search_warm", "ingest_maintain")

E2E_UNITS = {
    "setup_s": "s", "op_p50_ms": "ms", "op_p60_ms": "ms", "ops_per_s": "1/s",
    "build_docs_per_s": "docs/s", "rewrite_docs_per_s": "docs/s",
    "first_answer_ms": "ms", "index_bytes_per_content_byte": "ratio",
    "store_bytes_per_content_byte": "ratio", "peak_rss_mb": "MB",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench_work" / (
        f"{args.workload}-s{args.seed}-{os.getpid()}")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM, the spark-submit launcher's included: temp files under
    # the work dir, no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(ROOT))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass


def _run(args, work: Path) -> int:
    from perfbench import workloads
    from perfbench.measure import adopt_orphans, stop_spark, \
        tree_peak_rss_bytes

    adopt_orphans()
    t0 = time.perf_counter()
    spark = workloads.open_session(work)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run = workloads.Run(spark, work, args.seed, args.seconds,
                            bool(args.trace), time.perf_counter() - t0)
        run.note("session start")
        metrics = workloads.WORKLOADS[args.workload](run)
        metrics["peak_rss_mb"] = tree_peak_rss_bytes() / (1 << 20)
        print(f"perfbench: host CPU steal {run.steal.pct():.2f}% over the "
              "timed part", file=sys.stderr)
        if run.trace:
            layers = workloads.layer_metrics(run)
            run.tracer.write(ROOT / ".perfbench_out" / (
                f"spans-{args.workload}-s{args.seed}.jsonl"))
    finally:
        stop_spark(spark)
    run.note("shutdown")
    if run.trace:
        out = {k: {"value": v, "unit": workloads.LAYER_UNITS[k]}
               for k, v in layers.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u}
               for k, u in E2E_UNITS.items()}
    failed = len(run.failures)
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": out}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
