"""SparkSession factory tuned for the engine.

Centralizes the configs that matter at 100 TB: AQE (runtime re-planning +
skew-join handling), Arrow for every pandas-UDF boundary, and shuffle
partition sizing. Tests and bench both go through here so plans are
comparable.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "liresolr_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cores), 8)
        except ValueError:  # cores == "*"
            shuffle_partitions = 32
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # partition-pruning + row-group stats pushdown on the postings table
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # pin event-time arithmetic: epoch math must agree across Spark,
        # pandas (stateful kernels treat naive ts as UTC) and the DuckDB
        # oracle regardless of the host timezone
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # local-mode executor == driver JVM: size the heap for cached
        # corpus/token columns + 32 concurrent task threads (8g thrashes GC
        # and flattens core scaling); the sandbox box has 128 GiB
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def jobs_run(spark: SparkSession, fn):
    """(fn(), the number of Spark jobs fn ran in a job group of its own)."""
    sc, group = spark.sparkContext, f"job-count-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # every job's end event
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
