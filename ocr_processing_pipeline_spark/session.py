"""SparkSession factory with scale-oriented defaults.

Local sandbox runs on local[N] (single JVM); the confs are chosen so the
same code is right on a 1000-executor cluster: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), Arrow enabled with a modest
batch size because the pages table is binary-heavy (one batch of html blobs
must fit comfortably in executor memory — SURVEY §4.2.4), shuffle
partitions sized to cores locally (cluster: set to 2-3× total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# html blobs are ~2-20 KB synthetic / up to MBs on real Common Crawl;
# cap Arrow batches well below the 10k default so a batch of blobs
# stays < ~256 MB at 100 TB scale.
ARROW_MAX_RECORDS_PER_BATCH = 512


def get_spark(app_name: str = "ocr_processing_pipeline_spark",
              cpus: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS_PER_BATCH))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # binary-heavy page rows: favor one task per input shard over
        # file-packing — a packed 128 MB partition of html blobs is a
        # straggler; these also govern the local benches' parallelism
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "16m")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # a long-lived session compiles whole-stage codegen classes for
        # every query it runs; at the default 240m the HotSpot code cache
        # fills after ~60-70 distinct queries and the JIT shuts off,
        # leaving interpreted expression paths ~10x slower (observed on
        # the bench JVM). A serving/bench driver needs headroom.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=512m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


__all__ = ["get_spark", "ARROW_MAX_RECORDS_PER_BATCH"]
