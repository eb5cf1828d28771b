"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same conf names apply on a real
cluster (shuffle partitions are sized per-stage by the callers that
know their key cardinality).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "yahoo_anomaly_detection_spark",
    cores: int | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``cores``: local parallelism (default: $SPARK_GRAFT_CPUS or all).
    On a real cluster the master is supplied by spark-submit and this
    builder only contributes SQL confs.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = SparkSession.builder.appName(app_name)
    # honor a spark-submit-provided master (--master yarn/k8s/
    # local-cluster/...): builder options override submit conf at
    # context creation, so unconditionally setting local[] here would
    # silently collapse a cluster deploy onto the driver. Detection
    # must NOT go through SparkConf(): before the JVM gateway exists,
    # pyspark's SparkConf is a pure-Python empty dict (always says "no
    # master"), and after forcing gateway init a spark-defaults.conf
    # master would leak into plain-python runs and break core pinning.
    # PYSPARK_GATEWAY_PORT is set iff this process was launched by
    # spark-submit's PythonRunner — exactly the case where the submit
    # conf owns the master.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # 20g, not the machine's full 128g: oversized heaps cost first-
        # touch page-faulting on every cold JVM (measured 110s vs 16s
        # cold tier rollup at 48g vs 16g) and buy nothing — the hot
        # working set is execution memory for one stage's sorts/aggs
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "20g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # List partition dirs on the driver. Above the threshold
        # (default 32) Spark starts a distributed listing job for every
        # read of a directory with more subdirectories — each day-
        # partitioned tier commit dir has one per day, so every tier
        # read-back, eviction probe and rewrite paid 0.2-0.4 s for it.
        # Catalog tables live on local or NFS storage, where listing a
        # few hundred dirs costs milliseconds on the driver. 4096 sits
        # above the 3650 day partitions the 1d tier's 10-year TTL holds.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "4096")
        # Off-heap Tungsten memory + large pages: on-heap execution
        # memory funnels every page allocate/free of every task through
        # the ONE synchronized HeapMemoryAllocator pool monitor. At 32
        # executor threads the wide hash-aggregates (millions of
        # groups -> repeated BytesToBytesMap growth) turn that monitor
        # into a futex storm — measured 450-1600 CPU-s of kernel time
        # per tier-1m stage (jstack: threads BLOCKED on
        # HeapMemoryAllocator, TaskMemoryManager.allocatePage), made
        # catastrophic when the hypervisor preempts the lock holder.
        # Off-heap pages go through per-thread malloc arenas (no shared
        # monitor) and 16m pages cut the allocation count; together:
        # tier-1m 30-120s -> 17s at local[32], kernel time 738s -> 89s.
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size",
                os.environ.get("SPARK_OFFHEAP_MEM", "8g"))
        .config("spark.buffer.pageSize", "16m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
