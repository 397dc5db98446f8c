"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]`` but every config below is chosen to
also be the right default on a 1000-executor cluster reading ~100 TB:
AQE on (runtime coalescing + skew-join splitting), Arrow on (all our
Python extension points are pandas UDFs / mapInPandas), explicit shuffle
partitioning, and bounded Arrow batch sizes so pandas UDF memory stays
flat regardless of partition size.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from medtype_spark import ROOT


# spark.python.daemon.module: the worker daemon every session here uses
DAEMON_MODULE = "medtype_spark.daemon"


def export_package_root() -> None:
    """Put this package's root on PYTHONPATH, so the worker-daemon
    process Spark spawns can import ``DAEMON_MODULE``."""
    pp = os.environ.get("PYTHONPATH", "")
    if ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def live_pandas_udf(return_type):
    """``@pandas_udf(return_type)`` for a module-level function, built
    anew at each call so that it binds to the live SparkContext.

    PySpark keeps a UDF's JVM function together with the accumulator of
    the first context it ran in; a UDF built once at import keeps
    reporting to that context after ``spark.stop()`` and ``get_spark()``,
    and every task then logs ``Failed to update accumulator``."""

    def wrap(fn):
        @functools.wraps(fn)
        def call(*cols):
            return pandas_udf(fn, return_type)(*cols)

        return call

    return wrap


def get_spark(
    app_name: str = "medtype_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``) so the bench harness can pin parallelism via env.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    export_package_root()
    # local thread count (0 = unknown / local[*] / cluster master)
    try:
        n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 0
    except ValueError:
        n = 0
    if shuffle_partitions is None:
        # At cluster scale this should be ~2-3x total cores; locally we
        # mirror the core count so small jobs don't fragment.
        shuffle_partitions = max(n or os.cpu_count() or 8, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce the last shuffle of a persisted plan too
        # (Spark keeps a cached plan's output partitioning by default).
        # Otherwise every cached flagship frame (mentions, the blocking
        # base, edges) keeps all shuffle partitions, and every stage
        # over it runs that many tasks over a few thousand rows.
        # Executed tasks per warm benchmark op (local[4], 8 shuffle
        # partitions), together with block_pairs' driver-side hot keys:
        # uniform_10k 173 -> 33, zipf_skew_4k 251 -> 49.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound pandas-UDF batch memory; analogue of the reference's
        # max_batch_size=256 serving micro-batches (server/helper.py:100),
        # scaled up because Arrow batches are columnar.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark 4 routes lower()/upper() through ICU
        # (CollationAwareUTF8String); its static init under 32-way task
        # contention serializes ALL tasks behind a ~60s class-init lock
        # (observed via jstack).  JVM case mapping is sufficient here.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # Spark 4.1's unix-domain-socket Python workers stall ~40-60s
        # per task when a pandas-UDF plan is materialized into the
        # block cache (persist/localCheckpoint) — the runner socket is
        # not drained/closed until a timeout.  TCP workers are fine.
        # (Diagnosed via jstack: tasks parked in EPoll.wait reading
        # PythonArrowOutput after all rows were produced.)
        .config("spark.python.unix.domain.socket.enabled", "false")
        # With TCP workers, the worker-creation auth handshake parks in
        # a 15s accept-wait (twice) per python runner under this
        # sandbox's network stack; the handshake itself is instant.
        .config("spark.python.authenticate.socketTimeout", "2s")
        # Python worker reuse, keyed on local thread count.  At >=16
        # threads in this single-JVM sandbox, reused TCP workers hit a
        # drain wait when a python-lineage plan feeds a cache/
        # checkpoint writer (measured: headline suite 2x slower at
        # local[32] with reuse), so fresh-fork-per-task wins there.
        # At <=8 threads — the shape of a real executor (4-8 cores,
        # where reuse=true is Spark's default) — reuse removes the
        # serialized fork-per-task cost: flagship 800k runs ~35%
        # faster at local[8] and 2->8 scaling efficiency rises
        # 0.62 -> 0.83.
        .config("spark.python.worker.reuse", "true" if 0 < n <= 8 else "false")
        # With reuse=false every task pays the pandas/pyarrow import in
        # its fresh worker (~1s under syscall emulation, and the forks
        # contend at high parallelism).  A daemon module that imports
        # the pandas-UDF stack BEFORE forking lets workers inherit the
        # loaded modules copy-on-write: measured 10.4s -> 7.3s at
        # local[8] and 5-13s (unstable) -> 3.0s (stable) at local[32]
        # for the 100k-page mention scan.  The daemon also stops each
        # task re-reading the pyspark/py4j zip directories; see
        # medtype_spark.daemon.
        .config("spark.python.daemon.module", DAEMON_MODULE)
        # 4 MiB stream buffers: ~64x fewer socket syscalls on the
        # arrow channel — significant under this sandbox's syscall
        # emulation, harmless elsewhere.
        .config("spark.buffer.size", str(4 * 1024 * 1024))
        # One flagship op uses more distinct generated classes than the
        # default LRU of 100 holds, so every op evicted each class
        # before its next use and Janino recompiled it.  Compiles per
        # benchmark op (ops 3-5 of one driver, local[4], 4-core host):
        # zipf_skew_4k 158 -> 0-10, uniform_10k 56-67 -> 0-8.  A static
        # conf: it only takes effect when set before the first session
        # in the JVM.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    spark = builder.getOrCreate()
    # Warm the collation/codegen path once, uncontended, so the first
    # real stage doesn't pay the class-init convoy.
    spark.sql("select lower('Äb'), upper('ß')").collect()
    return spark


def fan_out(df):
    """Widen a too-coarse scan to defaultParallelism partitions for
    CPU-heavy downstream map work.

    Small test-scale inputs (one parquet row group) yield ONE input
    partition, serializing hash/regex-heavy stages on a single core.
    Repartition ONLY when the scan is narrower than the target — at
    real scale a 100 TB table already splits into ~maxPartitionBytes
    chunks, the guard is false, and no shuffle is added.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
