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
   Monitoring/aggregator.py:5-88). The per-(bucket, failure code)
   aggregate is collected once, folded into one row per bucket on the
   driver (plus zero-row sentinels for empty buckets) and appended as
   one file; then the persisted stage is released

Crash between (3) and (4) leaves data files without a checkpoint row; the
next run reprocesses those buckets and the overwrite removes any partial
output — no duplicates (verified by tests/test_resume.py).

On a cluster with Iceberg, steps 3+4 would become a single transaction
(append + checkpoint rows in one commit). Here every table is plain
parquet, written directly: the image has no Iceberg jars.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterable

import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

# a checkpoint row as checkpoint_rows_with_failures returns it: the
# table's columns less committed_at, warc_ts_min/max as epoch micros (the
# table stores them as timestamps)
CHECKPOINT_ROW_SCHEMA = (
    "bucket int, table_name string, row_count long, n_urls long, "
    "warc_ts_min long, warc_ts_max long, "
    "failure_counts map<string,long>, mean_extract_us double, "
    "max_extract_us long"
)
_ROW_COLUMNS = [f.split()[0] for f in CHECKPOINT_ROW_SCHEMA.split(", ")]


def with_bucket(df: DataFrame, n_buckets: int,
                url_col: str = "url") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets))
        .cast("int"))


def pages_fingerprint(path: str) -> str:
    """sha256 of the sorted (relative path, size) pairs of the data files
    under ``path`` (a file is its own single entry). Names starting with
    ``_`` or ``.`` (Spark's markers and checksums) are skipped, as Spark's
    reader skips them. Lists files only: no data or footer is read."""
    if os.path.isfile(path):
        entries = [("", os.path.getsize(path))]
    else:
        entries = []
        for d, dirs, names in os.walk(path):
            dirs[:] = [n for n in dirs if n[0] not in "_."]
            entries += [(os.path.relpath(os.path.join(d, n), path),
                         os.path.getsize(os.path.join(d, n)))
                        for n in names if n[0] not in "_."]
    return hashlib.sha256(repr(sorted(entries)).encode()).hexdigest()


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
                                  table_name: str,
                                  sentinel_buckets: Iterable[int] = ()
                                  ) -> list[Row]:
    """One checkpoint row per bucket, on the driver: row count, url count,
    warc_ts range, failure-code histogram and extract timing.

    One ``groupBy(bucket, code)`` is collected — O(n_buckets × failure
    codes) rows — and folded here into a row per bucket. Each id in
    ``sentinel_buckets`` that holds no rows gets a zero-row sentinel, so
    buckets the corpus leaves EMPTY are committed too and the
    all-committed no-op (job.run_pipeline) closes over them; row_count 0
    tells them apart in every metrics query. warc_ts_min/max travel as
    epoch micros: a collected timestamp would come back as a naive
    local-time datetime, ambiguous in a DST fall-back hour."""
    code = F.coalesce(F.nullif("failure_code", F.lit("")), F.lit("OK"))
    per_code: dict[int, list[Row]] = {b: [] for b in sentinel_buckets}
    for r in (docs_with_bucket.groupBy("bucket", code.alias("code"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.countDistinct("url").alias("n_urls"),
                   F.unix_micros(F.min("warc_ts")).alias("ts_min"),
                   F.unix_micros(F.max("warc_ts")).alias("ts_max"),
                   F.sum("extract_us").alias("t_sum"),
                   F.max("extract_us").alias("t_max"))
              .collect()):
        per_code.setdefault(r.bucket, []).append(r)

    def fold(f, values):
        return f((v for v in values if v is not None), default=None)

    rows = []
    for b, rs in sorted(per_code.items()):
        n = sum(r.n for r in rs)
        rows.append(Row(
            bucket=b, table_name=table_name, row_count=n,
            n_urls=sum(r.n_urls for r in rs),
            warc_ts_min=fold(min, (r.ts_min for r in rs)),
            warc_ts_max=fold(max, (r.ts_max for r in rs)),
            failure_counts={r.code: r.n for r in rs},
            mean_extract_us=sum(r.t_sum for r in rs) / n if n else None,
            max_extract_us=fold(max, (r.t_max for r in rs))))
    return rows


def append_checkpoint(spark: SparkSession, rows: list[Row],
                      checkpoint_path: str) -> None:
    """Append checkpoint_rows_with_failures' rows as one parquet file,
    stamped with committed_at. The frame goes through pandas, so Spark
    builds it on the Arrow path: one job, no Python worker."""
    pdf = pd.DataFrame(rows, columns=_ROW_COLUMNS, dtype=object)
    (spark.createDataFrame(pdf, CHECKPOINT_ROW_SCHEMA)
     .withColumns({c: F.timestamp_micros(c)
                   for c in ("warc_ts_min", "warc_ts_max")})
     .withColumn("committed_at", F.current_timestamp())
     .coalesce(1).write.mode("append").parquet(checkpoint_path))


def _exists(path: str) -> bool:
    return os.path.exists(path) and any(
        f.endswith(".parquet") or f == "_SUCCESS"
        for root, _, files in os.walk(path) for f in files
    )


__all__ = ["with_bucket", "committed_buckets", "committed_bucket_ids",
           "count_rows", "remaining_pages",
           "write_partitioned", "checkpoint_rows_with_failures",
           "append_checkpoint", "CHECKPOINT_ROW_SCHEMA"]
