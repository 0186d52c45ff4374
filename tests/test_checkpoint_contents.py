"""What a checkpoint row holds: per bucket, the same counts, url count,
warc_ts range and failure histogram an independent aggregate over the
docs table gives — across a crash run and its resume, with the Python
process in a time zone whose DST fall-back hour one page is stamped in,
and with a url whose two crawls end with different failure codes.

And what a checkpoint file is: its Spark schema, one committed_at per
append taken during the append, and a directory that mixes a file
Spark wrote (as the checkpoint append once did) with one pyarrow wrote.
"""

import datetime
import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ocr_processing_pipeline_spark.pipeline import lineage
from ocr_processing_pipeline_spark.pipeline.job import run_pipeline
from ocr_processing_pipeline_spark.sources.corpus import make_pages

N_BUCKETS = 32
UTC = datetime.timezone.utc
# 02:30 local in Europe/Zurich, inside the hour 2024-10-27 repeats
FALL_BACK = datetime.datetime(2024, 10, 27, 0, 30, tzinfo=UTC)
CHECKPOINT_DDL = (
    "bucket int, table_name string, row_count bigint, n_urls bigint, "
    "warc_ts_min timestamp, warc_ts_max timestamp, "
    "failure_counts map<string,bigint>, mean_extract_us double, "
    "max_extract_us bigint, committed_at timestamp")
PAGES_SCHEMA = pa.schema([("url", pa.string()),
                          ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())])


def _micros(ts: datetime.datetime) -> int:
    return (ts - datetime.datetime(1970, 1, 1, tzinfo=UTC)
            ) // datetime.timedelta(microseconds=1)


@pytest.fixture
def zurich_tz(monkeypatch):
    """Run the test's Python process at TZ=Europe/Zurich."""
    monkeypatch.setenv("TZ", "Europe/Zurich")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _write_pages(path):
    """Eleven pages: one url crawled twice at two times, one url crawled
    twice whose second crawl has no payload (so its crawls end with two
    failure codes), one page stamped in the fall-back hour, one with no
    payload (EMPTY_INPUT)."""
    rows = [{k: r[k] for k in PAGES_SCHEMA.names}
            for r in make_pages(8)[0]]
    rows[1]["warc_ts"] = FALL_BACK
    emptied = dict(rows[3], html=None, text=None,
                   warc_ts=rows[3]["warc_ts"] + datetime.timedelta(days=1))
    recrawl = dict(rows[0])
    recrawl["warc_ts"] = rows[0]["warc_ts"] + datetime.timedelta(days=3)
    empty = dict(rows[2], url="https://empty.example/none", html=None,
                 text=None)
    rows += [emptied, recrawl, empty]
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), path)
    return rows


def _checkpoint(spark, out):
    """bucket → checkpoint row as a dict, timestamps as epoch micros (no
    Python datetime conversion)."""
    ck = spark.read.parquet(os.path.join(out, "checkpoint")).select(
        "bucket", "row_count", "n_urls",
        F.unix_micros("warc_ts_min").alias("ts_min"),
        F.unix_micros("warc_ts_max").alias("ts_max"),
        "failure_counts", "mean_extract_us", "max_extract_us")
    rows = [r.asDict() for r in ck.collect()]
    by_bucket = {r["bucket"]: r for r in rows}
    assert len(by_bucket) == len(rows), "one row per bucket"
    return by_bucket


def _from_docs(spark, out):
    """bucket → the checkpoint columns, aggregated independently from
    the docs table."""
    docs = spark.read.parquet(os.path.join(out, "docs"))
    want = {r.bucket: {"row_count": r.n, "n_urls": r.u, "ts_min": r.lo,
                       "ts_max": r.hi, "failure_counts": {}}
            for r in docs.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("url").alias("u"),
                F.unix_micros(F.min("warc_ts")).alias("lo"),
                F.unix_micros(F.max("warc_ts")).alias("hi")).collect()}
    code = (F.when(F.col("failure_code") == "", "OK")
            .otherwise(F.col("failure_code")))
    for r in docs.groupBy("bucket", code.alias("code")).count().collect():
        want[r.bucket]["failure_counts"][r.code] = r["count"]
    return want


def test_checkpoint_rows_match_docs(spark, corpus_dir, tmp_path, zurich_tz):
    pages = str(tmp_path / "pages.parquet")
    rows = _write_pages(pages)
    out = str(tmp_path / "out")

    run_pipeline(spark, pages, corpus_dir, out, n_buckets=N_BUCKETS,
                 fail_after_buckets=N_BUCKETS // 2)
    crashed = _checkpoint(spark, out)
    docs_buckets = set(_from_docs(spark, out))
    # the crash run committed every bucket it ran, its empty ones as
    # zero-row sentinels, like a full run
    assert set(crashed) == set(range(N_BUCKETS // 2))
    assert docs_buckets < set(crashed)
    assert all((r["row_count"] > 0) == (b in docs_buckets)
               for b, r in crashed.items())

    run_pipeline(spark, pages, corpus_dir, out, n_buckets=N_BUCKETS)
    got = _checkpoint(spark, out)
    want = _from_docs(spark, out)
    assert set(got) == set(range(N_BUCKETS))
    assert sum(w["row_count"] for w in want.values()) == len(rows)
    for b, row in got.items():
        if b in want:
            assert {k: row[k] for k in want[b]} == want[b], b
            assert row["mean_extract_us"] is not None, b
            assert row["max_extract_us"] is not None, b
        else:
            assert row == {"bucket": b, "row_count": 0, "n_urls": 0,
                           "ts_min": None, "ts_max": None,
                           "failure_counts": {}, "mean_extract_us": None,
                           "max_extract_us": None}, b

    # the pinned cases, against the input itself
    docs = spark.read.parquet(os.path.join(out, "docs"))
    bucket = dict(docs.select("url", "bucket").collect())
    recrawled = got[bucket[rows[0]["url"]]]
    assert recrawled["row_count"] >= 2 and recrawled["n_urls"] == (
        recrawled["row_count"] - 1)
    assert recrawled["ts_max"] == _micros(rows[-2]["warc_ts"])
    stamped = got[bucket[rows[1]["url"]]]
    assert _micros(FALL_BACK) in (stamped["ts_min"], stamped["ts_max"])
    assert got[bucket["https://empty.example/none"]]["failure_counts"][
        "EMPTY_INPUT"] == 1
    # a url whose two crawls end with different codes is one url
    split = got[bucket[rows[3]["url"]]]
    assert {"OK", "EMPTY_INPUT"} <= set(split["failure_counts"])
    assert split["n_urls"] == split["row_count"] - 1


def test_checkpoint_schema_and_commit_time(spark, corpus_dir, tmp_path,
                                           monkeypatch):
    """Spark reads the checkpoint with the table's schema, and each
    append stamps its rows with one committed_at, taken between the UTC
    instants just before and just after the append."""
    append, windows = lineage.append_checkpoint, []

    def timed(*args, **kwargs):
        before = datetime.datetime.now(UTC)
        append(*args, **kwargs)
        windows.append((_micros(before), _micros(datetime.datetime.now(UTC))))

    monkeypatch.setattr(lineage, "append_checkpoint", timed)
    out = str(tmp_path / "out")
    pages = f"{corpus_dir}/pages.parquet"
    run_pipeline(spark, pages, corpus_dir, out, n_buckets=8,
                 fail_after_buckets=4)
    run_pipeline(spark, pages, corpus_dir, out, n_buckets=8)
    ck = spark.read.parquet(os.path.join(out, "checkpoint"))
    assert ck.schema == StructType.fromDDL(CHECKPOINT_DDL)
    stamps = sorted({r[0] for r in ck.select(
        F.unix_micros("committed_at")).collect()})
    assert len(stamps) == len(windows) == 2
    for stamp, (lo, hi) in zip(stamps, windows):
        assert lo <= stamp <= hi


def _spark_append(spark):
    """The checkpoint append as Spark did it: createDataFrame, the warc_ts
    micros as timestamps, current_timestamp() as committed_at and a
    one-file append."""
    def append(rows, checkpoint_path):
        pdf = pd.DataFrame(rows, columns=lineage.CHECKPOINT_ROW_COLUMNS,
                           dtype=object)
        (spark.createDataFrame(pdf, lineage.CHECKPOINT_ROW_SCHEMA)
         .withColumns({c: F.timestamp_micros(c)
                       for c in ("warc_ts_min", "warc_ts_max")})
         .withColumn("committed_at", F.current_timestamp())
         .coalesce(1).write.mode("append").parquet(checkpoint_path))
    return append


def test_resume_over_spark_written_checkpoint(spark, corpus_dir, tmp_path,
                                              monkeypatch):
    """A crash run whose checkpoint file Spark wrote, then a resume that
    appends with pyarrow: the resume processes only the buckets the
    Spark-written file does not hold, and Spark and committed_bucket_ids
    both read the mixed directory as one row per bucket."""
    out = str(tmp_path / "out")
    pages = f"{corpus_dir}/pages.parquet"
    ckpt = os.path.join(out, "checkpoint")
    monkeypatch.setattr(lineage, "append_checkpoint", _spark_append(spark))
    run_pipeline(spark, pages, corpus_dir, out, n_buckets=8,
                 fail_after_buckets=4)
    monkeypatch.undo()
    done = lineage.committed_bucket_ids(ckpt, "docs")
    assert len(done) == 4
    old_files = set(os.listdir(ckpt))

    def docs_files():
        root = os.path.join(out, "docs")
        return {(d, f, os.stat(os.path.join(root, d, f)).st_mtime_ns)
                for d in os.listdir(root)
                for f in os.listdir(os.path.join(root, d))}

    before = docs_files()
    c = run_pipeline(spark, pages, corpus_dir, out, n_buckets=8)
    assert c["checkpoint"] == 8
    # the committed buckets' files are untouched ...
    assert {f for f in before if f[0] in {f"bucket={b}" for b in done}
            } <= docs_files()
    # ... and the new file holds only the other buckets
    (new,) = {f for f in os.listdir(ckpt) if f.endswith(".parquet")
              } - old_files
    assert set(pq.read_table(os.path.join(ckpt, new)).column(
        "bucket").to_pylist()) == set(range(8)) - done

    ck = spark.read.parquet(ckpt)
    assert ck.schema == StructType.fromDDL(CHECKPOINT_DDL)
    assert sorted(r.bucket for r in ck.select("bucket").collect()) == list(
        range(8))
    assert lineage.committed_bucket_ids(ckpt, "docs") == set(range(8))
    assert "skipped" in run_pipeline(spark, pages, corpus_dir, out,
                                     n_buckets=8)
