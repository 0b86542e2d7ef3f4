"""SparkSession factory tuned for the index engine.

Reference analog: fafnir's hand-tuned concurrency envelope (channel size,
concurrent_blocks=#CPUs, bulk batch sizes — /root/reference
src/bin/openmaptiles2mimir.rs:23, src/settings.rs:10-11,
config/elasticsearch/default.toml:16-20). In Spark all of that collapses into
the session configuration below: AQE for runtime re-planning + skew-join
handling, Arrow for vectorized Python exchange, and shuffle partitions sized
to the core count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fafnir-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    On a real cluster this factory is bypassed: ``spark-submit --py-files
    fafnir_spark.zip`` supplies the session and these configs move to
    ``spark-defaults.conf`` (see BENCH/BASELINE.md §deploy).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cores = int(cores)
    if shuffle_partitions is None:
        # 2x cores: enough waves for AQE to coalesce, not so many that
        # sub-ms tasks dominate at local scale. On a cluster this is set
        # to ~2-3x total executor cores (or left to AQE's initialNum).
        shuffle_partitions = 2 * cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # small-cluster-friendly coalesce target: default 64MB collapses a
        # local-scale shuffle to 1-2 tasks and serializes whole stages
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # no web UI: per-job metrics are read from the status store
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()
