"""run_pipeline's single Python pass: what it writes and how it plans it.

run_pipeline extracts, chunks, scans and links every page in one
mapInArrow pass whose tasks write every table's files themselves and
return the checkpoint rows. These tests pin that its tables equal the
standalone stage functions' output row for row, that the one frame it
collects plans one Python pass over the pages, caches nothing and reads
back no table it writes, and how the pass input places buckets on tasks.
"""

import contextlib
import datetime
import io
import os
import shutil
import subprocess
import sys
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_processing_pipeline_spark.extractor.ner import DATE_WINDOW_DAYS
from ocr_processing_pipeline_spark.pipeline import job
from ocr_processing_pipeline_spark.pipeline.chunk import chunk_docs
from ocr_processing_pipeline_spark.pipeline.extract import extract_docs
from ocr_processing_pipeline_spark.pipeline.job import run_pipeline
from ocr_processing_pipeline_spark.pipeline.ner import (
    link_entities, load_gazetteers)

N_BUCKETS = 8


def _rows(df):
    return sorted(df.collect(), key=repr)


# noon UTC on the last day a person who died in 2005 passes the
# person-date filter: that is the crawl date in UTC, while in UTC+14 it
# is already the next day
BOUNDARY = datetime.datetime(2024, 12, 27, 12, tzinfo=datetime.timezone.utc)


def test_tables_match_standalone_chain(spark, corpus_dir, tmp_path):
    """Under each session time zone, UTC and Pacific/Kiritimati (UTC+14):
    after a crash run and its resume, docs (less the extract_us timing),
    chunks and edges equal the standalone chain extract_docs →
    chunk_docs → link_entities over the same pages: same columns, same
    rows. Every other page is crawled at BOUNDARY, so the edges differ
    between the zones, and both sides give the person-date filter the
    same session-local crawl date."""
    assert datetime.date(2005, 1, 1) + datetime.timedelta(
        DATE_WINDOW_DAYS) == BOUNDARY.date()
    table = pq.read_table(f"{corpus_dir}/pages.parquet")
    stamps = table.column("warc_ts").to_pylist()
    stamps[::2] = [BOUNDARY] * len(stamps[::2])
    i = table.schema.get_field_index("warc_ts")
    pages_path = str(tmp_path / "pages.parquet")
    pq.write_table(table.set_column(i, table.schema.field(i), pa.array(
        stamps, table.schema.field(i).type)), pages_path)
    edges = {}
    zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        for session_zone in ("UTC", "Pacific/Kiritimati"):
            spark.conf.set("spark.sql.session.timeZone", session_zone)
            edges[session_zone] = _assert_tables_match_chain(
                spark, corpus_dir, pages_path, str(tmp_path / session_zone))
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert edges["UTC"] != edges["Pacific/Kiritimati"]


def _assert_tables_match_chain(spark, corpus_dir, pages_path, out):
    """The table parity of one session time zone; returns the edges."""
    for kw in ({"fail_after_buckets": 3}, {}):
        got = run_pipeline(spark, pages_path, corpus_dir, out,
                           n_buckets=N_BUCKETS, **kw)
        assert "skipped" not in got, kw

    gaz = load_gazetteers(spark, *[f"{corpus_dir}/{n}.parquet"
                                   for n in ("persons", "places", "orgs")])
    docs = extract_docs(spark.read.parquet(pages_path)).localCheckpoint()
    chunks = chunk_docs(docs).localCheckpoint()
    want = {
        "docs": docs.drop("extract_us"),
        "chunks": chunks,
        "edges": link_entities(chunks, gaz),
    }
    for table, expected in want.items():
        written = spark.read.parquet(os.path.join(out, table)).drop(
            "bucket", "extract_us")
        assert written.columns == expected.columns, table
        w, e = _rows(written), _rows(expected)
        assert e, table
        assert w == e, table
    return w


def test_pipeline_imports_no_pandas():
    """Importing the job module, and with it every pipeline module, in a
    fresh interpreter leaves pandas unloaded: a Python worker that runs
    the pass never imports it."""
    code = ("import sys, ocr_processing_pipeline_spark.pipeline.job; "
            "print(sorted(m for m in sys.modules if m.startswith('pandas')))")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run([sys.executable, "-c", code], cwd=root,
                          capture_output=True, text=True, check=True)
    assert done.stdout.strip() == "[]", done.stdout


def _plan(df) -> str:
    """The physical plan; once adaptive execution has run it, only its
    final version (not the initial one printed after)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue().split("== Initial Plan ==")[0]


def _data_files(path):
    return [f for f in os.listdir(path) if f[0] not in "._"]


def test_run_collects_one_pass(spark, corpus_dir, tmp_path, monkeypatch):
    """A run's only data action is the collect of its checkpoint rows.
    That frame's plan holds exactly one MapInArrow and the bucket
    repartition as its only Exchange; its only scan is of the pages, so
    no table the run writes is read back; nothing is cached, so a cache
    manager that was empty before the run is empty after it. The out dir
    holds exactly the docs, chunks, edges and checkpoint tables and the
    meta file, and every table the tasks wrote holds one data file per
    bucket."""
    out = str(tmp_path / "out")
    collected = []
    frame = type(spark.range(1))    # the session's DataFrame class
    collect = frame.collect

    def capture(df):
        collected.append(df)
        return collect(df)

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    monkeypatch.setattr(frame, "collect", capture)
    run_pipeline(spark, f"{corpus_dir}/pages.parquet", corpus_dir, out,
                 n_buckets=N_BUCKETS)
    monkeypatch.undo()

    assert len(collected) == 1
    p = _plan(collected[0])
    assert p.count("MapInArrow") == 1, p
    assert "_warc_us" not in p, p
    assert p.count("Exchange") == 1, p
    assert "InMemory" not in p.replace("InMemoryFileIndex", ""), p
    assert p.count("FileScan") == 1 and "pages.parquet" in p, p
    assert out not in p, p
    assert cache.isEmpty()
    assert sorted(os.listdir(out)) == [
        "checkpoint", "checkpoint_meta.json", "chunks", "docs", "edges"]
    for table in ("docs", "chunks", "edges"):
        buckets = sorted(os.listdir(os.path.join(out, table)))
        assert buckets == [f"bucket={b}" for b in range(N_BUCKETS)], table
        for b in buckets:
            assert len(_data_files(os.path.join(out, table, b))) == 1, b


def _drop_from_checkpoint(out, buckets):
    """Rewrites the checkpoint under ``out`` without the rows of
    ``buckets``, so the next resume runs exactly those."""
    ckpt = os.path.join(out, "checkpoint")
    kept = pq.read_table(ckpt).filter(~pc.field("bucket").isin(buckets))
    shutil.rmtree(ckpt)
    os.makedirs(ckpt)
    pq.write_table(kept, os.path.join(ckpt, "part-0.parquet"))


@pytest.mark.parametrize("case, n_buckets, run_buckets", [
    ("fresh", N_BUCKETS, list(range(N_BUCKETS))),
    # hash placement put buckets 0, 1 and 3 in one task, 2 in another
    ("crash", N_BUCKETS, [0, 1, 2, 3]),
    # under bucket id mod 2 both land in task 1
    ("colliding", N_BUCKETS, [1, 5]),
    # more than 2 buckets per core: one task per bucket
    ("many", 12, list(range(12))),
])
def test_buckets_fill_one_wave(spark, corpus_dir, tmp_path, monkeypatch,
                               case, n_buckets, run_buckets):
    """The pass input places a run's buckets on k tasks by each bucket's
    rank in the run: k = min(run buckets, defaultParallelism) up to 2 run
    buckets per core, else one task per bucket. Every run bucket is in
    exactly one task, no task holds more than ⌈len/k⌉ of them, and so
    none more than 2. Its one Exchange passes the partition id through
    instead of hashing the bucket."""
    out = str(tmp_path / "out")
    pages = f"{corpus_dir}/pages.parquet"
    kw = {"fail_after_buckets": 4} if case == "crash" else {}
    if case == "colliding":
        run_pipeline(spark, pages, corpus_dir, out, n_buckets=n_buckets)
        _drop_from_checkpoint(out, run_buckets)
    inputs = []
    process = job._process

    def capture(todo, *args):
        inputs.append(todo)
        return process(todo, *args)

    monkeypatch.setattr(job, "_process", capture)
    run_pipeline(spark, pages, corpus_dir, out, n_buckets=n_buckets, **kw)
    monkeypatch.undo()

    (todo,) = inputs
    cores = spark.sparkContext.defaultParallelism
    n = len(run_buckets)
    k = min(n, cores) if n <= 2 * cores else n
    p = _plan(todo)
    assert p.count("Exchange") == 1, p
    assert "Exchange shufflepartitionidpassthrough(" in p, p
    assert todo.rdd.getNumPartitions() == k
    tasks = {}
    for r in (todo.select("bucket", F.spark_partition_id().alias("task"))
              .distinct().collect()):
        tasks.setdefault(r.bucket, set()).add(r.task)
    # every bucket of this corpus holds pages
    assert sorted(tasks) == run_buckets, tasks
    assert all(len(t) == 1 for t in tasks.values()), tasks
    per_task = Counter(t for (t,) in tasks.values())
    assert max(per_task.values()) <= min(-(-n // k), 2), per_task
