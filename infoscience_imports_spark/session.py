"""SparkSession factory tuned for the dedup workload.

Local-mode defaults mirror what a 1000-executor cluster deployment would set:
AQE on (dynamic coalescing + skew-join splitting), Arrow enabled for the
vectorized UDF kernels, shuffle partitions sized to cores. On a real cluster
the same builder is used by ``spark-submit --py-files`` (see ``cli.py``) with
``--master`` supplied externally.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "infoscience-imports-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master=None`` defers to spark-submit / env; tests pass ``local[N]``.
    """
    cores = os.cpu_count() or 4
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    n = _parallelism_of(master, cores)
    if shuffle_partitions is None:
        # size shuffles to actual parallelism so an N-core and a 4N-core run
        # are both partition-fed (north-rule scaling evidence depends on this)
        shuffle_partitions = max(2 * n, 8)
    # heap must scale with task concurrency: 32 concurrent tasks on an 8g
    # heap spend more time in GC than in the operators (measured 4x slowdown
    # on map-heavy stages); ~1.5g per task slot keeps GC off the critical path
    default_heap = f"{max(8, int(n * 1.5))}g"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # One split policy, Spark's bytes-per-core rule min(maxPartitionBytes,
        # max(openCostInBytes, bytes / cores)): below cores x 32 MB, one split
        # (one Python kernel task wave) per core; above, the cap sets the split
        # count. The kernels are CPU-dense (~2 MB/s per core), so splits, not a
        # repartition shuffle, provide the parallelism.
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", default_heap))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _parallelism_of(master: str, default: int) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return default
        try:
            return int(inner)
        except ValueError:
            return default
    return default


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Describe the block's eager jobs (Spark UI, event log); job groups
    are left alone, since run harnesses attribute jobs by group."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(prev)
