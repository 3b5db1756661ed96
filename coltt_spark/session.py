"""SparkSession factory tuned for this engine.

Local mode is the test substrate; the settings are chosen so the same
plans scale to a multi-executor cluster: AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for the few Pandas-UDF paths,
and shuffle partitions sized to the parallelism actually available
instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "coltt_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions default to the core count — in local mode more buckets
    than threads only adds task-scheduling overhead, and on a real
    cluster the caller sizes this to executors × cores.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize per-batch conversion in the
        # BLAS kernels (matmul efficiency grows with batch height)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # local mode: driver heap IS the executor heap for all worker
        # threads. 8g leaves ~250 MB per concurrent task at local[32]
        # and OOMs a 32-task packed-index write at ~8M×64 vectors;
        # the test boxes have 128 GiB, so default generously
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # workers fork from a daemon whose zip importers skip the
        # per-task re-read of unchanged archives (coltt_spark/pydaemon.py)
        .config("spark.python.daemon.module", "coltt_spark.pydaemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
