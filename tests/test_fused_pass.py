"""run_pipeline's single Python pass: what it writes and how it plans it.

run_pipeline extracts, chunks, scans and links every page in one
mapInPandas pass whose tasks write every table's files themselves and
return the checkpoint rows. These tests pin that its tables equal the
standalone stage functions' output row for row, that the one frame it
collects plans one Python pass over the pages, caches nothing and reads
back no table it writes, and how the pass input places buckets on tasks.
"""

import contextlib
import io
import os
import shutil
from collections import Counter

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_processing_pipeline_spark.pipeline import job
from ocr_processing_pipeline_spark.pipeline.chunk import chunk_docs
from ocr_processing_pipeline_spark.pipeline.extract import extract_docs
from ocr_processing_pipeline_spark.pipeline.job import run_pipeline
from ocr_processing_pipeline_spark.pipeline.ner import (
    link_entities, load_gazetteers)

N_BUCKETS = 8


def _rows(df):
    return sorted(df.collect(), key=repr)


def test_tables_match_standalone_chain(spark, corpus_dir, tmp_path):
    """After a crash run and its resume, docs (less the extract_us
    timing), chunks and edges equal the standalone chain extract_docs →
    chunk_docs → link_entities over the same pages: same columns, same
    rows."""
    out = str(tmp_path / "out")
    pages_path = f"{corpus_dir}/pages.parquet"
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
    That frame's plan holds exactly one MapInPandas and the bucket
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
    assert p.count("MapInPandas") == 1, p
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
