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
   the pages, shuffled so that each task holds whole buckets (the
   placement rule is in job.py, ``_pass_tasks`` and ``run_pipeline``)
3. in that same task, write each of its buckets' docs/chunks/edges rows
   with pyarrow (``BucketFiles``): one file per (table, bucket) at a
   deterministic name under the hive ``bucket=N`` directory, written
   under a ``.``-prefixed temp name, renamed into place, then every
   other file in that directory removed.
   That is dynamic overwrite at bucket grain: a retried task or a rerun
   of an uncommitted bucket replaces its files, never adds to them
4. the task returns one checkpoint row per bucket — row count, url
   count, warc_ts min/max, failure-code histogram, extract timing — and
   the driver collects them (the run's only data action), adds zero-row
   sentinels for empty buckets and appends them with pyarrow as one
   file (``append_checkpoint``: temp name, then renamed to a unique
   ``part-<uuid>.parquet``; no Spark job), stamped with committed_at:
   the lineage + metrics record (replaces the codecarbon CSV join of
   Monitoring/aggregator.py:5-88)

The driver's reads and writes under the out dir (checkpoint, meta file,
footer counts) go through ``out_filesystem``, as the tasks' do, and so do
the input fingerprints, so a ``file://`` URI and a plain path name the
same files.

Crash between (3) and (4) leaves data files without a checkpoint row; the
next run reprocesses those buckets and the overwrite replaces their
files — no duplicates (verified by tests/test_resume.py).

On a cluster with Iceberg, steps 3+4 would become a single transaction
(append + checkpoint rows in one commit). Here every table is plain
parquet, written directly: the image has no Iceberg jars.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .batches import arrow_schema

# a checkpoint row as BucketFiles.commit returns it: the table's columns
# less committed_at, warc_ts_min/max as epoch micros (the table stores
# them as timestamps)
CHECKPOINT_ROW_SCHEMA = (
    "bucket int, table_name string, row_count long, n_urls long, "
    "warc_ts_min long, warc_ts_max long, "
    "failure_counts map<string,long>, mean_extract_us double, "
    "max_extract_us long"
)
CHECKPOINT_ROW_COLUMNS = [f.split()[0]
                          for f in CHECKPOINT_ROW_SCHEMA.split(", ")]
_UTC_US = pa.timestamp("us", tz="UTC")

# a (table, bucket) file's buffered rows are written out as one row group
# once they reach this size, so a task streams its buckets to disk
ROW_GROUP_BYTES = 64 << 20
# long-text columns: their min/max statistics would copy text into every
# footer and help no reader
_NO_STATISTICS = {"text", "content"}
# the docs columns a checkpoint row is folded from
_LEDGER_COLUMNS = ["url", "warc_ts", "failure_code", "extract_us"]


def bucket_of(url: str, n_buckets: int) -> str:
    """The bucket id of the url column ``url``, as a SQL expression."""
    return f"CAST(pmod(xxhash64({url}), {int(n_buckets)}) AS INT)"


def pages_fingerprint(path: str) -> str:
    """sha256 of the sorted (relative path, size) pairs of the visible
    files under ``path``, a path or a URI (a file is its own single entry,
    with relative path ``""``; see ``visible_files``). Lists files only:
    no data or footer is read."""
    fs, root = out_filesystem(path)
    entries = [(rel, f.size) for rel, f in visible_files(fs, root)]
    return hashlib.sha256(repr(sorted(entries)).encode()).hexdigest()


def visible_files(fs: pafs.FileSystem,
                  path: str) -> list[tuple[str, pafs.FileInfo]]:
    """The files a reader sees at ``path`` on ``fs``, as (path relative to
    ``path``, FileInfo) pairs: ``path`` itself as ``("", info)`` if it is
    a file, else every file under it with no component of its relative
    path starting with ``.`` or ``_``, the prefixes Spark and pyarrow skip
    (Spark's markers and checksums, a crashed write's temp file or
    ``_temporary/`` directory). A missing path has none."""
    info = fs.get_file_info(path)
    if info.type == pafs.FileType.File:
        return [("", info)]
    found = []
    for f in fs.get_file_info(pafs.FileSelector(
            path, allow_not_found=True, recursive=True)):
        rel = f.path[len(path):].strip("/")
        if f.type == pafs.FileType.File and not any(
                n[0] in "._" for n in rel.split("/")):
            found.append((rel, f))
    return found


def committed_buckets(spark: SparkSession, checkpoint_path: str,
                      table_name: str) -> DataFrame:
    """Distinct committed bucket ids for a table ('' DataFrame if none)."""
    if not _exists(*out_filesystem(checkpoint_path)):
        return spark.createDataFrame([], "bucket int")
    return (spark.read.parquet(checkpoint_path)
            .filter(F.col("table_name") == table_name)
            .select("bucket").distinct())


def committed_bucket_ids(checkpoint_path: str, table_name: str) -> set[int]:
    """Committed bucket ids for a table, read on the driver with pyarrow
    (the checkpoint is O(n_buckets) rows: no Spark job)."""
    fs, path = out_filesystem(checkpoint_path)
    if not _exists(fs, path):
        return set()
    rows = pq.read_table(path, filesystem=fs, columns=["bucket"],
                         filters=[("table_name", "=", table_name)])
    return set(rows.column("bucket").to_pylist())


def count_rows(path: str) -> int:
    """Rows in a (bucket-partitioned) parquet table, summed from the file
    footers: no Spark job and no data pages read."""
    import pyarrow.dataset as ds    # imports pandas: not at module scope
    fs, path = out_filesystem(path)
    return ds.dataset(path, filesystem=fs, format="parquet",
                      partitioning="hive").count_rows()


def remaining_pages(spark: SparkSession, pages: DataFrame,
                    checkpoint_path: str, table_name: str,
                    n_buckets: int) -> DataFrame:
    """F9: left-anti join against committed buckets (broadcast — tiny)."""
    done = committed_buckets(spark, checkpoint_path, table_name)
    return (pages.withColumn("bucket", F.expr(bucket_of("url", n_buckets)))
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


def out_filesystem(out_dir: str) -> tuple[pafs.FileSystem, str]:
    """The pyarrow filesystem of ``out_dir`` (a path or a URI) and its
    path there. A local path is made absolute first (``from_uri`` rejects
    relative ones)."""
    if "://" not in out_dir:
        out_dir = os.path.abspath(out_dir)
    return pafs.FileSystem.from_uri(out_dir)


class BucketFiles:
    """One task's share of a run's tables: one parquet file per (table,
    bucket) and one checkpoint row per bucket (module docstring, steps
    3-4).

    ``schemas`` maps each table to the arrow schema of its files. The
    tables ``add`` takes carry one more column, the int ``bucket``, which
    the hive ``bucket=N`` directory holds instead. A bucket's files are
    opened, one per table, when ``add`` first sees it or ``open`` names
    it, so a bucket with no rows in some table gets an empty file there.
    Rows are buffered per file and written as a row group every
    ROW_GROUP_BYTES. ``commit`` closes each file, renames it from its
    ``.``-prefixed temp name to ``part-<bucket>.parquet`` and removes
    every other file in its bucket directory, then returns each bucket's
    checkpoint row, folded from its docs rows."""

    def __init__(self, fs: pafs.FileSystem, root: str,
                 schemas: dict[str, pa.Schema]):
        self._fs, self._root, self.schemas = fs, root, schemas
        # (table, bucket) -> [writer, temp path, buffered tables]
        self._files: dict[tuple[str, int], list] = {}
        # bucket -> its docs rows' _LEDGER_COLUMNS
        self._ledgers: dict[int, list[pa.Table]] = {}

    def open(self, bucket: int) -> None:
        for table, schema in self.schemas.items():
            d = self._dir(table, bucket)
            self._fs.create_dir(d)
            temp = f"{d}/.tmp-{uuid.uuid4().hex}.parquet"
            # no ARROW:schema footer key: the parquet types already say
            # what every reader here needs, and it costs ~1 KB per file
            writer = pq.ParquetWriter(
                temp, schema, filesystem=self._fs, compression="zstd",
                write_statistics=[n for n in schema.names
                                  if n not in _NO_STATISTICS],
                store_schema=False)
            self._files[table, bucket] = [writer, temp, []]
        self._ledgers[bucket] = [
            self.schemas["docs"].empty_table().select(_LEDGER_COLUMNS)]

    def add(self, tables: dict[str, pa.Table]) -> None:
        for table, rows in tables.items():
            for bucket in pc.unique(rows["bucket"]).to_pylist():
                if bucket not in self._ledgers:
                    self.open(bucket)
                part = rows.filter(pc.equal(rows["bucket"], bucket)
                                   ).drop_columns("bucket")
                if table == "docs":
                    self._ledgers[bucket].append(part.select(_LEDGER_COLUMNS))
                writer, _, buffered = self._files[table, bucket]
                buffered.append(part)
                if sum(t.nbytes for t in buffered) >= ROW_GROUP_BYTES:
                    writer.write_table(pa.concat_tables(buffered))
                    buffered.clear()

    def commit(self) -> list[dict]:
        for (table, bucket), (writer, temp, buffered) in self._files.items():
            if buffered:
                writer.write_table(pa.concat_tables(buffered))
            writer.close()
            final = f"{self._dir(table, bucket)}/part-{bucket:05d}.parquet"
            self._fs.move(temp, final)
            for f in self._fs.get_file_info(
                    pafs.FileSelector(self._dir(table, bucket))):
                if f.path != final and f.type == pafs.FileType.File:
                    self._fs.delete_file(f.path)
        return [_checkpoint_row(b, pa.concat_tables(parts))
                for b, parts in sorted(self._ledgers.items())]

    def _dir(self, table: str, bucket: int) -> str:
        return f"{self._root}/{table}/bucket={bucket}"


def _checkpoint_row(bucket: int, rows: pa.Table) -> dict:
    """A bucket's docs checkpoint row from its url, warc_ts, failure_code
    and extract_us columns; with no rows, the zero-row sentinel that commits
    an empty bucket. warc_ts_min/max are epoch micros: a timestamp would
    come back as a naive local-time datetime, ambiguous in a DST
    fall-back hour."""
    n = rows.num_rows
    ts = rows["warc_ts"].cast(pa.int64())
    t_sum = pc.sum(rows["extract_us"]).as_py()
    return dict(
        bucket=bucket, table_name="docs", row_count=n,
        n_urls=pc.count_distinct(rows["url"]).as_py(),
        warc_ts_min=pc.min(ts).as_py(), warc_ts_max=pc.max(ts).as_py(),
        failure_counts=dict(Counter(
            c or "OK" for c in rows["failure_code"].to_pylist())),
        mean_extract_us=t_sum / n if n else None,
        max_extract_us=pc.max(rows["extract_us"]).as_py())


def append_checkpoint(rows: list[dict], checkpoint_path: str) -> None:
    """Append checkpoint rows (BucketFiles.commit's) as one parquet file,
    stamped with one committed_at, written with pyarrow on the driver (no
    Spark job). The file holds CHECKPOINT_ROW_SCHEMA's columns with
    warc_ts_min/max as UTC micros timestamps, plus committed_at. It is
    written under a ``.``-prefixed temp name, which no reader sees, then
    renamed to a unique ``part-<uuid>.parquet``: a crash mid-append
    leaves nothing ``_exists`` or a reader counts."""
    fs, path = out_filesystem(checkpoint_path)
    now = datetime.datetime.now(datetime.timezone.utc)
    ts = ("warc_ts_min", "warc_ts_max")
    schema = pa.schema([f.with_type(_UTC_US) if f.name in ts else f
                        for f in arrow_schema(CHECKPOINT_ROW_SCHEMA)]
                       ).append(pa.field("committed_at", _UTC_US))
    table = pa.Table.from_pylist(
        [{**r, "committed_at": now} for r in rows], schema=schema)
    fs.create_dir(path)
    name = uuid.uuid4().hex
    temp = f"{path}/.tmp-{name}.parquet"
    pq.write_table(table, temp, filesystem=fs, compression="zstd",
                   store_schema=False)
    fs.move(temp, f"{path}/part-{name}.parquet")


def _exists(fs: pafs.FileSystem, path: str) -> bool:
    """Whether ``path`` holds a ``.parquet`` file a reader sees
    (``visible_files``). A temp file or ``_temporary/`` directory
    left by a crashed write is not a table."""
    return any(f.path.endswith(".parquet")
               for _, f in visible_files(fs, path))


__all__ = ["bucket_of", "pages_fingerprint", "visible_files",
           "committed_buckets", "committed_bucket_ids", "count_rows",
           "remaining_pages", "write_partitioned", "out_filesystem",
           "BucketFiles", "append_checkpoint", "CHECKPOINT_ROW_SCHEMA",
           "CHECKPOINT_ROW_COLUMNS"]
