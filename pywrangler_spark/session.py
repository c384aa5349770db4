"""SparkSession factory with the engine's required configuration.

Local mode for tests/bench; on a real cluster the same configs apply (AQE,
arrow, nanos handling) while master/memory come from the deployment. A
local session sizes its driver heap from the host (:func:`driver_memory`).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _physical_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_memory(master: str, extra_conf: dict | None = None) -> str | None:
    """The ``spark.driver.memory`` a session on ``master`` gets.

    An explicit ``spark.driver.memory`` in ``extra_conf`` wins. A local
    master gets half of physical RAM: the driver JVM is also the only
    executor, and the other half stays free for the Python workers, the
    page cache and the OS, so memory pressure spills instead of getting
    the process killed. Any other master returns ``None`` and keeps the
    deployment's own setting.
    """
    explicit = (extra_conf or {}).get("spark.driver.memory")
    if explicit is not None:
        return explicit
    if not master.startswith("local"):
        return None
    return f"{_physical_ram_bytes() // 2 // 2**20}m"


def get_spark(
    app_name: str = "pywrangler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Required configs:
    - ``spark.sql.legacy.parquet.nanosAsLong``: accept TIMESTAMP(NANOS)
      parquet columns (restored to TimestampType by
      :mod:`pywrangler_spark.sources.parquet`).
    - AQE on: runtime coalescing + skew-join handling.
    - Arrow on: fast pandas interchange for the Pandas-UDF operators.
    - Driver heap from :func:`driver_memory` (half of RAM on a local
      master, unless ``extra_conf`` sets it).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # start exchanges WIDE and let AQE coalesce by bytes: with the
        # initial count pinned to shuffle.partitions (Spark's default),
        # a shuffle that grows with the data makes per-task sorts
        # exceed execution memory and spill — measured at the sf100
        # probe (dedup_span_mask 18 GB, dedup_cdc_chunks 50 GB of
        # spill at 32 partitions). 8x the core count costs nothing at
        # small scale (AQE merges small partitions back) and bounds
        # per-task shuffle bytes as the data grows; a real cluster
        # raises it further with its executor count.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * int(shuffle_partitions or cpus)),
        )
        # let AQE re-optimize (coalesce) the plans of persisted frames:
        # off, every .persist() freezes the exchange at
        # initialPartitionNum tasks, and each downstream stage over the
        # cache — mapInPandas GEMMs, broadcast builds, joins — pays that
        # task count forever (measured: the sf0.1 docvec cache froze at
        # 256 partitions of ~20 rows; the exact ANN tier spent 74 s of
        # executor time on task+Python-worker startup, 3.4 -> 0.75 s
        # with the flag). Partitioning is decided by BYTES, so cached
        # frames stay scale-adaptive instead of constant-partitioned.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # naive parquet timestamps scan as TimestampType, not TIMESTAMP_NTZ
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # honor sortBy order of bucketed tables (off by default since
        # 3.1 because it needs an eager file listing): the engine's
        # bucket writer guarantees one file per bucket, which is the
        # layout this flag exists for — a bucket-sorted fact-fact merge
        # join then plans with neither Exchange NOR Sort; multi-file
        # buckets just fall back to sorting, no correctness risk
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.ui.enabled", "false")
    )
    heap = driver_memory(master, extra_conf)
    if heap is not None:
        builder = builder.config("spark.driver.memory", heap)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
