"""SparkSession factory with scale-appropriate defaults.

Tuned for the sandbox (local[N], single JVM) but every setting is the one
you'd ship to a 1000-executor cluster: AQE on (coalesce + skew-join), shuffle
partitions proportional to parallelism, Arrow enabled for pandas UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "data_pipeline_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores=None → local[*]. shuffle_partitions defaults to 2× cores so every
    shuffle stage keeps all slots busy without tiny-task overhead; on a real
    cluster you'd set it ∝ total executor cores (AQE coalesces the excess).
    """
    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = 2 * (cores or (os.cpu_count() or 8))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # no per-call DataFrame call-site capture: with it on (the Spark 4
        # default) every Column/DataFrame API call makes extra py4j round
        # trips to record its Python origin for error messages, which
        # multiplies driver-side plan-building time
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (Spark's legacy default) carries no usable column stats —
        # micros is what Iceberg mandates, and it's what gives timestamp
        # columns footer min/max for manifest col_stats file skipping
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # writes partition by _bucket and one task can hold several buckets;
        # concurrent writers keep the file sink from sorting every task by
        # the partition column
        .config("spark.sql.maxConcurrentOutputFileWriters", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # keep stdout clean: bench.py must print exactly one JSON line
        .config("spark.ui.showConsoleProgress", "false")
        # v2 commit: per-task rename instead of a sequential driver-side
        # directory merge — matters for the 128-way bucketed base writes
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
