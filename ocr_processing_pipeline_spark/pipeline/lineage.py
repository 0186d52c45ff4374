"""Per-partition lineage, checkpoint table, and bucket-level resumability.

Replaces the reference's text-file ledgers — processed_documents.txt
membership skip (entity_extractor/apertus_ner/orchestrator.py:38-43),
missing_files.txt / error_log.txt — with a checkpoint table (F9, the
resumability core).

Unit of commit: a **bucket** = ``pmod(xxhash64(url), n_buckets)`` — a
deterministic, data-independent range partition of the url space (north
rule: "range-partitioned shuffles on url-hash"). Each run:

1. remaining = the bucket ids the checkpoint does not hold yet. The
   checkpoint has O(n_buckets) rows, so the driver reads its ``bucket``
   column with pyarrow (``committed_bucket_ids``: no Spark job) and the
   pages are filtered to the remaining ids. ``remaining_pages`` makes the
   same decision as a broadcast left-anti join for Spark-side callers.
2. run the Python work (extract → chunk → scan + link) in ONE pass over
   the bucket-repartitioned pages and persist its output
3. write docs/chunks/edges (and optionally mentions) parquet partitioned
   by bucket, each a projection of that persisted stage (dynamic
   partition overwrite → a re-run of an uncommitted bucket replaces its
   files: idempotent)
4. append one checkpoint row per bucket, aggregated from the same stage:
   row counts, warc_ts min/max, failure-code histogram, committed_at —
   the lineage + metrics record (replaces the codecarbon CSV join of
   Monitoring/aggregator.py:5-88), then release the persisted stage

Crash between (3) and (4) leaves data files without a checkpoint row; the
next run reprocesses those buckets and the overwrite removes any partial
output — no duplicates (verified by tests/test_resume.py).

On a cluster this maps 1:1 onto Iceberg: steps 3+4 become a single Iceberg
transaction (append + checkpoint rows in one commit). The Iceberg writer is
gated behind an import-try because the sandbox image has no Iceberg jars.
"""

from __future__ import annotations

import os

import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHECKPOINT_SCHEMA = (
    "bucket int, table_name string, row_count long, n_urls long, "
    "warc_ts_min timestamp, warc_ts_max timestamp, "
    "failure_counts map<string,long>, mean_extract_us double, "
    "max_extract_us long, committed_at timestamp"
)


def with_bucket(df: DataFrame, n_buckets: int,
                url_col: str = "url") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets))
        .cast("int"))


def committed_buckets(spark: SparkSession, checkpoint_path: str,
                      table_name: str) -> DataFrame:
    """Distinct committed bucket ids for a table ('' DataFrame if none)."""
    if not _exists(checkpoint_path):
        return spark.createDataFrame([], "bucket int")
    return (spark.read.parquet(checkpoint_path)
            .filter(F.col("table_name") == table_name)
            .select("bucket").distinct())


def committed_bucket_ids(checkpoint_path: str, table_name: str) -> set[int]:
    """Committed bucket ids for a table, read on the driver with pyarrow
    (the checkpoint is O(n_buckets) rows: no Spark job)."""
    if not _exists(checkpoint_path):
        return set()
    rows = pq.read_table(checkpoint_path, columns=["bucket"],
                         filters=[("table_name", "=", table_name)])
    return set(rows.column("bucket").to_pylist())


def count_rows(path: str) -> int:
    """Rows in a (bucket-partitioned) parquet table, summed from the file
    footers: no Spark job and no data pages read."""
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def remaining_pages(spark: SparkSession, pages: DataFrame,
                    checkpoint_path: str, table_name: str,
                    n_buckets: int) -> DataFrame:
    """F9: left-anti join against committed buckets (broadcast — tiny)."""
    done = committed_buckets(spark, checkpoint_path, table_name)
    return (with_bucket(pages, n_buckets)
            .join(F.broadcast(done), "bucket", "left_anti"))


def write_partitioned(df: DataFrame, path: str) -> None:
    """Write partitioned by bucket with dynamic overwrite (idempotent).

    The overwrite mode is pinned PER WRITE (not via session conf): on a
    session without spark.sql.sources.partitionOverwriteMode=dynamic a
    static overwrite would silently wipe every previously committed bucket
    on resume.
    """
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket").parquet(path))


def checkpoint_rows_with_failures(docs_with_bucket: DataFrame,
                                  table_name: str) -> DataFrame:
    """Lineage rows incl. failure-code histogram as map<string,long>."""
    has_timing = "extract_us" in docs_with_bucket.columns
    timing_aggs = (
        [F.avg("extract_us").alias("t_mean"),
         F.max("extract_us").alias("t_max")]
        if has_timing else
        [F.lit(None).cast("double").alias("t_mean"),
         F.lit(None).cast("long").alias("t_max")])
    per_code = (
        docs_with_bucket
        .withColumn("code", F.when(F.col("failure_code") == "", "OK")
                    .otherwise(F.coalesce(F.col("failure_code"),
                                          F.lit("OK"))))
        .groupBy("bucket", "code")
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("url").alias("n_urls_c"),
             F.min("warc_ts").alias("ts_min"),
             F.max("warc_ts").alias("ts_max"),
             *timing_aggs)
    )
    return (
        per_code.groupBy("bucket")
        .agg(F.sum("n").alias("row_count"),
             F.sum("n_urls_c").alias("n_urls"),
             F.min("ts_min").alias("warc_ts_min"),
             F.max("ts_max").alias("warc_ts_max"),
             F.map_from_entries(
                 F.collect_list(F.struct("code", "n"))
             ).alias("failure_counts"),
             (F.sum(F.col("t_mean") * F.col("n")) / F.sum("n"))
             .alias("mean_extract_us"),
             F.max("t_max").alias("max_extract_us"))
        .withColumn("table_name", F.lit(table_name))
        .withColumn("committed_at", F.current_timestamp())
        .select("bucket", "table_name", "row_count", "n_urls",
                "warc_ts_min", "warc_ts_max", "failure_counts",
                "mean_extract_us", "max_extract_us", "committed_at")
    )


def empty_bucket_sentinels(spark: SparkSession, buckets: list[int],
                           table_name: str) -> DataFrame:
    """Zero-row checkpoint rows for buckets the corpus left EMPTY.

    checkpoint_rows_with_failures derives rows from the docs groupBy, so
    a bucket no url hashes into never commits a row — and the all-
    committed no-op fast path (job.run_pipeline), which requires every
    bucket id in the checkpoint, would silently never trigger for such
    corpora, falling back to listing + footer-reading the full input on
    every no-op resume (ADVICE r4). A full run commits these sentinels for
    the buckets it ran that produced no rows; row_count 0 distinguishes
    them in every metrics query."""
    rows = [(int(b), table_name, 0, 0, None, None, {}, None, None, None)
            for b in buckets]
    return (spark.createDataFrame(rows, CHECKPOINT_SCHEMA)
            .withColumn("committed_at", F.current_timestamp()))


def append_checkpoint(rows: DataFrame, checkpoint_path: str) -> None:
    rows.write.mode("append").parquet(checkpoint_path)


def _exists(path: str) -> bool:
    return os.path.exists(path) and any(
        f.endswith(".parquet") or f == "_SUCCESS"
        for root, _, files in os.walk(path) for f in files
    )


__all__ = ["with_bucket", "committed_buckets", "committed_bucket_ids",
           "count_rows", "remaining_pages",
           "write_partitioned", "checkpoint_rows_with_failures",
           "empty_bucket_sentinels", "append_checkpoint",
           "CHECKPOINT_SCHEMA"]
