"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same conf names apply on a real
cluster (shuffle partitions are sized per-stage by the callers that
know their key cardinality).
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_FS_SOURCE = os.path.join(_JVM_DIR, "NoForkLocalFileSystem.java")
_FS_CLASS = "yahoo_anomaly_detection_spark.jvm.NoForkLocalFileSystem"
_FS_CACHE = os.path.join(_JVM_DIR, ".build")
_CLASSPATH = "spark.driver.extraClassPath"

_log = logging.getLogger(__name__)
_fs_warned = False


def _compile_fs(out: str) -> None:
    """javac the filesystem class into ``out`` (atomically: a
    concurrent compile of the same source may win the rename)."""
    javac = shutil.which("javac")
    if javac is None:
        raise OSError("javac not found on PATH")
    from pyspark.find_spark_home import _find_spark_home

    cp = glob.glob(os.path.join(_find_spark_home(), "jars",
                                "hadoop-client-api-*.jar"))
    root = os.path.dirname(out)
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=root)
    try:
        subprocess.run([javac, "--release", "17", "-nowarn",
                        "-cp", os.pathsep.join(cp), "-d", tmp, _FS_SOURCE],
                       check=True, capture_output=True, text=True)
        os.rename(tmp, out)
    except OSError:
        if not os.path.isdir(out):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def local_fs_conf(cache_root: str = _FS_CACHE) -> dict[str, str]:
    """Spark confs that bind ``file://`` to ``NoForkLocalFileSystem``.

    The class is compiled once per source version into
    ``cache_root/<source hash>``. Returns ``{}`` (Hadoop's stock class
    stays, and the reason is logged once) when it cannot be built.
    """
    global _fs_warned
    with open(_FS_SOURCE, "rb") as f:
        out = os.path.join(cache_root, hashlib.sha256(f.read()).hexdigest()[:16])
    if not os.path.isdir(out):
        try:
            _compile_fs(out)
        except (OSError, subprocess.CalledProcessError) as e:
            if not _fs_warned:
                _fs_warned = True
                _log.warning("keeping Hadoop's stock local filesystem: %s%s",
                             e, getattr(e, "stderr", "") or "")
            return {}
    return {
        _CLASSPATH: out,
        "spark.hadoop.fs.file.impl": _FS_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": _FS_CLASS + "$Fs",
    }


def _launch_fs_conf() -> dict[str, str]:
    """``local_fs_conf()`` if the driver JVM will have the class: the
    JVM this process launches next, or a running one started with it."""
    from pyspark import SparkContext

    conf = local_fs_conf()
    if conf and SparkContext._jvm is not None:
        cp = SparkContext._jvm.java.lang.System.getProperty("java.class.path")
        if os.path.normpath(conf[_CLASSPATH]) not in {
                os.path.normpath(p) for p in cp.split(os.pathsep) if p}:
            return {}
    return conf


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
    conf = {}
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cores}]")
        # Hadoop's RawLocalFileSystem.setPermission runs the chmod
        # command when libhadoop is absent (no Spark or pyspark build
        # ships it), so every data file, .crc file and dir a write
        # creates started one child process of the driver JVM: 815
        # per tier_build pass, ~220 for one 33-day partitionBy write
        # (0.7 s against 0.35 s in-process). Each tier's write stage
        # is one task after AQE coalescing, so those launches ran back
        # to back. FileContext (streaming offsets, commits, state
        # store) also ran readlink per create and rename: 38k launches
        # in one 1m->1h->1d streaming chain test. NoForkLocalFileSystem
        # does both in-process (25 launches per pass, 628 in that
        # test). Under spark-submit the class would not reach the
        # executors, so those sessions keep the stock class.
        conf = _launch_fs_conf()
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
        if k == _CLASSPATH and k in conf:
            v = conf[k] + os.pathsep + v
        conf[k] = v
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
