"""One instrumented scale-run leg: build the synthetic corpus index on a
local standalone cluster at a given core count with Spark event logging on,
then print per-stage task metrics (run/cpu/gc/shuffle/fault-ish) from the
event log.  Diagnostic tool for the N-vs-4N scaling work — not part of the
bench contract.

Usage: python tools/profile_scale.py <cores> <n_docs> [corpus_parquet]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from strucmotif_search_spark.build import IndexStore, build_index  # noqa: E402
from strucmotif_search_spark.cluster import (  # noqa: E402
    StandaloneCluster,
    get_cluster_spark,
)
from strucmotif_search_spark.corpus import generate_corpus  # noqa: E402


def main() -> None:
    cores = int(sys.argv[1])
    n_docs = int(sys.argv[2])
    src = sys.argv[3] if len(sys.argv) > 3 else None
    exec_cores = int(os.environ.get("SPARK_GRAFT_EXECUTOR_CORES", "2"))
    scratch = "/dev/shm/sparkgraft" if os.path.isdir("/dev/shm") else "/tmp"
    os.makedirs(scratch, exist_ok=True)
    evdir = tempfile.mkdtemp(prefix="spark-events-")
    with StandaloneCluster(cores=max(32, cores)) as cl:
        spark = get_cluster_spark(
            f"profile-{cores}", cl, total_cores=cores,
            executor_cores=exec_cores, shuffle_partitions=32,
            extra_conf={
                "spark.hadoop.mapreduce.fileoutputcommitter"
                ".algorithm.version": "2",
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{evdir}",
            },
        )
        if src is None:
            src = tempfile.mkdtemp(prefix="prof_corpus_") + "/docs"
            generate_corpus(spark, n_docs, seed=42, partitions=128).write.mode(
                "overwrite"
            ).parquet(src)
        docs = spark.read.parquet(src)
        # warm-up
        warm = tempfile.mkdtemp(prefix="prof_warm_") + "/docs"
        generate_corpus(spark, 20000, seed=7, partitions=32).write.mode(
            "overwrite"
        ).parquet(warm)
        build_index(
            spark, spark.read.parquet(warm),
            IndexStore(tempfile.mkdtemp(prefix="pw_", dir=scratch)),
            docs_per_shard=512,
        )
        root = tempfile.mkdtemp(prefix=f"prof_{cores}_", dir=scratch)
        t0 = time.time()
        build_index(
            spark, docs, IndexStore(root),
            docs_per_shard=max(n_docs // 256, 256),
        )
        wall = time.time() - t0
        print(f"== build wall {wall:.1f}s at {cores} cores "
              f"({n_docs / wall:.0f} docs/s)", flush=True)
        appid = spark.sparkContext.applicationId
        spark.stop()
    # ---- parse the event log (Spark 4 rolling layout, zstd parts) ----
    import glob
    import subprocess

    stages: dict[int, dict] = {}
    parts = sorted(
        glob.glob(os.path.join(evdir, f"eventlog_v2_{appid}", "events_*"))
    ) or [os.path.join(evdir, appid)]
    lines: list[str] = []
    for p in parts:
        if p.endswith(".zstd"):
            out = subprocess.run(
                ["zstd", "-dc", p], capture_output=True, check=False
            )
            if out.returncode != 0:  # fall back to pyarrow one-shot
                import pyarrow as pa

                data = pa.Codec("zstd").decompress(
                    open(p, "rb").read(), asbytes=True
                )
            else:
                data = out.stdout
            lines += data.decode().splitlines()
        else:
            lines += open(p).read().splitlines()
    for line in lines:
            ev = json.loads(line)
            t = ev.get("Event")
            if t == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                s = stages.setdefault(sid, {"name": si["Stage Name"][:48]})
                s["wall_ms"] = si.get("Completion Time", 0) - si.get(
                    "Submission Time", 0
                )
                s["tasks"] = si.get("Number of Tasks")
            elif t == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                s = stages.setdefault(sid, {})
                m = ev.get("Task Metrics") or {}
                s["run_ms"] = s.get("run_ms", 0) + m.get("Executor Run Time", 0)
                s["cpu_ms"] = s.get("cpu_ms", 0) + m.get(
                    "Executor CPU Time", 0
                ) // 1_000_000
                s["gc_ms"] = s.get("gc_ms", 0) + m.get("JVM GC Time", 0)
                s["deser_ms"] = s.get("deser_ms", 0) + m.get(
                    "Executor Deserialize Time", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                s["shw_ms"] = s.get("shw_ms", 0) + sw.get(
                    "Shuffle Write Time", 0
                ) // 1_000_000
                s["shw_b"] = s.get("shw_b", 0) + sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                s["fetch_ms"] = s.get("fetch_ms", 0) + sr.get("Fetch Wait Time", 0)
                s["shr_b"] = (
                    s.get("shr_b", 0)
                    + sr.get("Local Bytes Read", 0)
                    + sr.get("Remote Bytes Read", 0)
                )
                out = m.get("Output Metrics") or {}
                s["out_b"] = s.get("out_b", 0) + out.get("Bytes Written", 0)
                inp = m.get("Input Metrics") or {}
                s["in_b"] = s.get("in_b", 0) + inp.get("Bytes Read", 0)
                # python worker time hides inside run - cpu? no: run includes
                # waiting on python; cpu is JVM-side cpu only
    print(f"{'sid':>4} {'wall_s':>7} {'Σrun_s':>7} {'Σcpu_s':>7} {'Σgc_s':>6} "
          f"{'shW_s':>6} {'fetch_s':>7} {'in_MB':>7} {'out_MB':>7} "
          f"{'shW_MB':>7} {'shR_MB':>7}  name")
    for sid in sorted(stages):
        s = stages[sid]
        if s.get("run_ms", 0) < 1000 and s.get("wall_ms", 0) < 1000:
            continue
        print(
            f"{sid:>4} {s.get('wall_ms', 0) / 1e3:>7.1f} "
            f"{s.get('run_ms', 0) / 1e3:>7.1f} "
            f"{s.get('cpu_ms', 0) / 1e3:>7.1f} "
            f"{s.get('gc_ms', 0) / 1e3:>6.1f} "
            f"{s.get('shw_ms', 0) / 1e3:>6.1f} "
            f"{s.get('fetch_ms', 0) / 1e3:>7.1f} "
            f"{s.get('in_b', 0) / 1e6:>7.0f} "
            f"{s.get('out_b', 0) / 1e6:>7.0f} "
            f"{s.get('shw_b', 0) / 1e6:>7.0f} "
            f"{s.get('shr_b', 0) / 1e6:>7.0f}  {s.get('name', '?')}"
        )


if __name__ == "__main__":
    main()
