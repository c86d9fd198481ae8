"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N] (single JVM), but every config here is chosen
for the 1000-executor / 100 TB case and merely *also* works locally:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- Arrow execution for all pandas UDF exchange, bounded batch size so posting
  blocks never blow executor memory;
- shuffle partitions sized to cores locally; on a real cluster this is set to
  2-3x total cores via spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Allocator pinning for the driver JVM and every Python worker it forks.
#
# Rationale (measured, see BENCH.md methodology): this sandbox is a
# Firecracker microVM with virtio free-page reporting enabled
# (page_reporting_order on the kernel cmdline).  Any memory a process frees
# back to the OS is handed to the host, and re-faulting it goes through a
# host round-trip that costs orders of magnitude more than a normal minor
# fault — and contends across vCPUs.  Default allocator behavior (glibc
# trim/munmap, Arrow jemalloc decay, G1 heap uncommit) therefore turns every
# Arrow-batch UDF task into a kernel-time storm: we measured 32-core tokenize
# passes at 95-100% *system* time, 10-50x slower than the same kernel run
# under plain multiprocessing, with wild run-to-run variance.
#
# Fix: never give pages back.  Workers keep their peak working set (bounded:
# one Arrow batch + kernel temporaries), the JVM keeps a fixed heap, and the
# free->report->refault cycle cannot start.  On a real cluster these are
# ordinary executor settings (spark.executorEnv.* / spark.executor.
# extraJavaOptions) and are simply harmless where the pathology is absent.
_ALLOC_ENV = {
    "MALLOC_TRIM_THRESHOLD_": "-1",       # never trim the brk heap
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_MMAP_MAX_": "0",              # no mmap'd allocs -> no munmap
    "MALLOC_ARENA_MAX": "1",
    "ARROW_DEFAULT_MEMORY_POOL": "system",  # route Arrow through glibc above
}


def _pin_allocators() -> None:
    for k, v in _ALLOC_ENV.items():
        os.environ.setdefault(k, v)


def _export_package_path() -> None:
    """Make this package importable by worker-side interpreters (the custom
    daemon module below), regardless of the driver's cwd."""
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )


def get_spark(
    app_name: str = "strucmotif-search-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    _pin_allocators()
    _export_package_path()
    # Heap scales with task slots — local[N] stands in for an N-core
    # executor, and a cluster of 4x executors brings 4x memory, so the
    # N-vs-4N scaling comparison must scale memory with cores too.  1.5g per
    # slot keeps 32 concurrent parquet/shuffle writers out of GC collapse
    # (measured: a 16g fixed heap ran one 32-task stage at 413s of GC; the
    # same stage at 8 tasks spent 0.6s in GC).
    # Cap the default heap at ~half of physical RAM: -Xms==-Xmx with
    # AlwaysPreTouch commits (and touches) the whole heap at startup, so an
    # uncapped per-core default on a small-memory host would OOM the JVM
    # before any workload ran.
    default_mb = max(cores, 4) * 768
    try:
        phys_mb = (
            os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1 << 20)
        )
        default_mb = min(default_mb, max(phys_mb // 2, 1024))
    except (ValueError, OSError):
        pass
    mem = os.environ.get("SPARK_DRIVER_MEM", f"{default_mb}m")
    # Fixed-size heap (-Xms == -Xmx) + a collector that never uncommits:
    # each heap page faults in exactly once for the JVM's lifetime and is
    # never reported back to the host (see _ALLOC_ENV comment).  G1's
    # periodic uncommit re-triggers the refault storm; ParallelGC does not.
    # THP halves fault *count* by 512x and AlwaysPreTouch moves all heap
    # faults to session startup: in this sandbox, page faults taken
    # concurrently by many task threads collapse to ~50 MB/s aggregate
    # (measured), so a lazily-growing heap turns every 32-way stage into a
    # fault storm billed as GC time.  A fully resident heap makes the same
    # stage run at memory speed.  On a real cluster these flags are ordinary
    # executor JVM tuning (and pre-touch cost is paid once per executor).
    # Bound pre-touch/GC thread count: page faults taken concurrently by
    # many threads collapse in this guest (see _ALLOC_ENV), and AlwaysPreTouch
    # with the default ~N_CPU ParallelGC threads self-inflicts exactly that
    # collapse on a large heap (measured: a 24 GB pre-touch that takes
    # seconds 1-threaded can burn 8+ minutes at 20-way).  8 GC threads keeps
    # pre-touch serial enough to stay fast while GC stays parallel enough.
    extra_conf = dict(extra_conf or {})
    # a caller's spark.driver.memory must also drive -Xms: the pre-touch
    # flag pins -Xms pages, and an -Xms computed from the DEFAULT memory
    # against a smaller user -Xmx refuses to start the JVM outright
    mem = extra_conf.pop("spark.driver.memory", mem)
    java_opts = (
        f"-Xms{mem} -XX:+UseParallelGC -XX:+UseTransparentHugePages "
        f"-XX:+AlwaysPreTouch -XX:ParallelGCThreads={min(cores, 8)}"
    )
    user_opts = extra_conf.pop("spark.driver.extraJavaOptions", "")
    if user_opts:
        java_opts = f"{java_opts} {user_opts}"
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bounded Arrow batches keep each python worker's allocator
        # high-water mark small enough that the FIRST batches of a stage
        # (or a warm-up pass) fault it in once and every later batch reuses
        # the same pages.  With 65536-row batches of ~1 KB documents each
        # worker's first batch allocated ~hundreds of MB inside the timed
        # window, N-way concurrently — precisely the collapsed-fault path
        # this guest punishes (measured: the identical tokenize kernel ran
        # 20k docs/s/worker in plain multiprocessing vs ~600 inside Spark
        # until this cap).  On a real cluster this is an ordinary
        # memory-bounding knob.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # trade bytes for cycles: persisted RDD blocks + parquet outputs are
        # compressed, shrinking the disk/memory-bandwidth footprint that
        # caps multi-core scaling (CPU scales with cores; one disk doesn't)
        .config("spark.rdd.compress", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", java_opts)
        # fork workers from a daemon that pre-imported numpy/pandas/pyarrow
        # (warm, COW-shared) instead of N simultaneous cold imports
        .config(
            "spark.python.daemon.module", "strucmotif_search_spark.spark_daemon"
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, pdf, schema) -> DataFrame:
    """A DataFrame over rows already on the driver, without a Python job.

    Rows go through Arrow ``createDataFrame`` (a local relation: no job,
    float64 bit patterns kept).  No rows become a typed
    ``SELECT CAST(NULL AS …) … WHERE false``, which Catalyst folds to an
    empty local relation (~25 ms warm on a 4-core box, where an empty
    ``createDataFrame`` costs ~350 ms).  ``schema`` is a DDL string or a
    StructType; ``pdf`` is a pandas frame with those columns, or any empty
    sequence."""
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if len(pdf):
        return spark.createDataFrame(pdf, schema)
    cols = ", ".join(
        f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
        for f in schema.fields
    )
    return spark.sql(f"SELECT {cols} WHERE false")
