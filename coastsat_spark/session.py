"""SparkSession factory with scale-oriented defaults.

Local mode is a single JVM; on a real cluster the same configs apply per
executor. AQE is on so skewed cell joins get runtime-split
(SURVEY.md §4.2 "salting ... AQE skew-join handling as backstop").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the `coastsat_spark` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "coastsat_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    tmpfs_local_dir: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions default to ~cores (not Spark's 200) so small-SF local runs
    aren't over-parallelized; on a big cluster callers pass an explicit
    value sized to input bytes / target partition size.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or max(int(cpus), 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # don't coalesce small post-shuffle stages below the core count —
        # scene-kernel stages are row-light but compute-heavy
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # Python workers import this package from their PYTHONPATH, not
        # the driver's sys.path: without this a driver started outside the
        # package's parent directory fails in its first Python task
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    # Library default keeps Spark's disk-backed local dirs (a tmpfs
    # default would let large spills exhaust RAM, and cluster managers
    # override spark.local.dir anyway). The bench harness passes
    # tmpfs_local_dir=True: on a real cluster every executor brings its
    # own local SSDs (shuffle bandwidth scales with executor count); in
    # single-box local mode one virtio disk would serialize all
    # "executors" through a device that does NOT scale with thread
    # count — memory-backed local dirs restore the per-executor-scaling
    # analog there. SPARK_LOCAL_DIRS still overrides either way.
    if tmpfs_local_dir:
        builder = builder.config(
            "spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
