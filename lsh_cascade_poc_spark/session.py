"""SparkSession factory tuned for the dedup engine.

Local mode here; the same builder settings apply on a real cluster (AQE,
Arrow, skew-join). The session configures no table catalog: stage
checkpoints are Parquet (checkpoint.py), and an Iceberg catalog for
`job.py --input` is the deployment's `--conf` settings (job.py lists them).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _tune_worker_malloc() -> None:
    """Make Python-worker numpy allocations REUSE memory instead of
    mmap/munmap-ing per batch. glibc mmaps allocations over ~128KB and
    returns them to the OS on free, so every Arrow batch's numpy temporaries
    are fresh pages — on hosts with slow first-touch (ballooned VMs; this
    sandbox serializes faults at ~6MB/s) that dominates the whole pipeline
    and ANTI-scales with worker count (32 workers fault 4x the pages of 8).
    Raising the mmap threshold and disabling trim keeps freed memory in the
    worker's heap for reuse. Must run BEFORE the JVM (workers' parent) spawns."""
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))


def default_driver_memory() -> str:
    """`spark.driver.memory` when SPARK_GRAFT_DRIVER_MEM is unset: 48g, or
    half the host's physical memory if that is smaller. The G1 settings
    below keep the heap at its high-water mark, so a heap sized past the
    host's RAM grows until the OS kills the JVM."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    half_mb = phys // 2 // (1 << 20)
    return f"{min(48 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "lsh_cascade_poc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _tune_worker_malloc()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    if shuffle_partitions is None:
        # local[N] -> N; anything else -> 2x default parallelism is a
        # reasonable floor for the band self-join shuffles
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048 (not the 10000 default): multi-KB documents make 10k-row Arrow
        # batches ~40MB+; with 32 concurrent workers the transient allocations
        # overwhelm this host's serialized fault handler (UDF kernels ALSO
        # re-chunk internally — see functions/signature_udf.py)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or default_driver_memory())
        # a crashed Python worker should leave a traceback, not a bare
        # "exited unexpectedly" (r1's bench died blind in stage 262)
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        # do NOT force frequent JVM GC (periodicGC / System.gc()): G1 full
        # collections UNCOMMIT heap regions, and re-faulting them is the
        # expensive thing on this host. The package persists no table by
        # hand (stages are checkpoints, operators/pairs.py key gates are
        # lazy), so GC pressure has no cache to reclaim.
        # keep the G1 heap at its high-water mark — uncommitted regions would
        # be re-faulted at ~6MB/s on this host
        .config("spark.driver.extraJavaOptions",
                "-XX:MaxHeapFreeRatio=100 -XX:MinHeapFreeRatio=20")
        .config("spark.ui.enabled", "false")
        # 8MB, NOT bigger: building a broadcast relation is SERIAL driver
        # work (collect + build + serialize before any task runs). At 64MB
        # AQE broadcast the ~50MB candidate side of the overlap text joins
        # and the driver stalled ~5s per join with zero tasks running —
        # pure parallelism-independent overhead (and at cluster scale, a
        # 64MB blob shipped to every executor). Mid-size relations belong
        # in shuffle joins, which scale with executors.
        .config("spark.sql.autoBroadcastJoinThreshold", str(8 * 1024 * 1024))
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
                str(8 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
