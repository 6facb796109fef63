"""SparkSession factory with the engine's scale-oriented defaults.

Single place where shuffle/AQE/Arrow knobs live so every entry point
(tests, bench, spark-submit driver) runs the same physical config.

At cluster scale the same builder is used; only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the sandbox (local[N], 128 GiB). On a real cluster
# `spark.sql.shuffle.partitions` should be ~2-3x total cores and is
# overridable via env.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

MAX_DRIVER_MEM_MB = 24 << 10


def driver_memory() -> str:
    """`spark.driver.memory`: SPARK_GRAFT_DRIVER_MEM when set, else half of
    the machine's physical memory, capped at 24g. A local-mode JVM grows
    its heap toward this bound before a full GC, so a fixed 24g could
    outgrow a small machine (seen: 12.5 GB RSS on a 16 GB VM)."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (ValueError, OSError):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{max(1024, min(MAX_DRIVER_MEM_MB, phys_mb // 2))}m"


def get_spark(
    app_name: str = "detectingscc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    AQE is on (runtime coalescing + skew-join splitting — the engine's
    answer to the reference's warp-level skew handling,
    /root/reference/include/scc_kernels.h:46-105). Arrow is on because all
    custom kernels are pandas/Arrow-vectorized, never per-row Python.
    """
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # self-launched (tests/bench/python -m): default to local[N].
        # Under spark-submit the JVM gateway already exists (it exports
        # PYSPARK_GATEWAY_PORT) and carries the submitted --master —
        # setting one here would clobber the cluster master, so don't.
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size post-shuffle partitions by BYTES, not cores: at cluster
        # scale partition count must follow data volume, and in local mode
        # parallelismFirst=true floods small iterative stages with
        # core-count tasks whose scheduling overhead dwarfs the work
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # iterative algorithms re-plan every superstep; keep planner quiet
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # superstep loops create/release thousands of checkpoint RDDs and
        # broadcasts; their cleanup is weak-reference-driven, so force GC
        # often enough that the ContextCleaner actually runs (default 30min
        # leaves a backlog that shows up as multi-second job-latency jitter)
        .config("spark.cleaner.periodicGC.interval", "15s")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
