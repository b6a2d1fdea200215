"""SparkSession factory with scale-oriented defaults.

Tuned for the target shape (1000-executor cluster over ~100 TB) but testable
on local[N]: AQE on (runtime coalescing + skew-join splitting), explicit
shuffle parallelism, Arrow transfers on, UTC session time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """Half of the memory available now (``/proc/meminfo``), at least 1g.

    In local mode the driver heap is the executors' heap too, but the
    Python workers, off-heap buffers and any RAM-backed scratch
    (``/dev/shm``) need the rest; a heap sized past physical memory lets
    the JVM grow into an out-of-memory kill instead of a GC.
    """
    with open("/proc/meminfo") as fh:
        avail_kb = next(
            int(line.split()[1]) for line in fh if line.startswith("MemAvailable:")
        )
    return f"{max(1, avail_kb // 2**21)}g"


def get_spark(
    app_name: str = "transcript-cardinality-pipeline",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores, 32)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local-mode scan parallelism: a 16m split cap lets a large input
        # file split by row group, so the regex parse does not land on 1-2
        # tasks. Small files keep the default open cost (4m) and are packed
        # toward one split per core (total bytes / default parallelism), not
        # one task per file. On a real cluster (128MB-1GB files) submit
        # with maxPartitionBytes=128m.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # local mode: driver == executor, so this is the whole job's heap
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # generated-class cache (static, one per JVM): a report pass compiles
        # ~115 distinct classes and a stream ~70; at the default 100 entries
        # every warm pass evicts and recompiles ~80 of them
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # keep the whole-stage codegen id out of the generated source: under
        # AQE one plan's stages do not get the same ids in every run (the
        # stream's two dim broadcast stages swap them), and with the id in
        # the class name such a stage misses the cache and recompiles
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
