"""SparkSession factory with the engine's standard configuration.

The reference launches one process per GPU rank (colbert/infra/launcher.py:28-136);
here Spark owns placement, and "cluster size" is the executor-thread count.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "colbert-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    cpus: thread count for local mode ("*" for all). Honors
    $SPARK_GRAFT_CPUS when unset, so bench.py can sweep parallelism
    (the in-sandbox stand-in for N vs 4N executors).
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    # Make the engine importable on Python workers regardless of the
    # driver's cwd — the local-mode analog of `spark-submit --py-files`.
    pkg_root = str(Path(__file__).resolve().parent.parent)
    worker_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in worker_path.split(":"):
        os.environ["PYTHONPATH"] = f"{pkg_root}:{worker_path}" if worker_path else pkg_root

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # the engine's hot paths are I/O-lean and CPU-rich: zstd halves
        # shuffle/cache/index bytes for a few % CPU — measured faster at
        # every parallelism level on the index build
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # an index version lists its files (sources/catalog.py), so a read
        # passes them explicitly; Spark lists more paths than this
        # threshold (default 32) with a parallel job instead of on the
        # driver, which cost a job per batch search after one append
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
