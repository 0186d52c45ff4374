"""run_pipeline's fixed cost: the reads it makes on the driver.

The checkpoint, the gazetteers and the returned row counts are read with
pyarrow on the driver, and no table written in a run is read back by it.
These tests pin the Spark job budget and the Py4J round-trip budget per
call, the cumulative return counts, the gazetteer payload, and an empty
input.
"""

import datetime
import os
from contextlib import contextmanager

import pyarrow.parquet as pq
from py4j.clientserver import ClientServerConnection

from ocr_processing_pipeline_spark.pipeline.job import run_pipeline
from ocr_processing_pipeline_spark.pipeline.ner import load_gazetteers

N_BUCKETS = 8
TABLES = ("docs", "chunks", "edges", "checkpoint")


@contextmanager
def spark_jobs(spark, group):
    """Yields a list that holds, after the block, the number of Spark jobs
    the block started (every job submitted under its job group)."""
    sc = spark.sparkContext
    got = []
    sc.setJobGroup(group, group)
    try:
        yield got
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status store through the async
        # listener bus: drain it so the count is exact
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        got.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def test_job_budget_per_call(spark, corpus_dir, tmp_path):
    """A crash run and its resume start 2 Spark jobs each — the map stage
    of the pages shuffle and the one Python pass that writes the tables
    and returns the checkpoint rows (the driver appends those with
    pyarrow) — and a no-op resume starts none: its decision comes from
    the checkpoint, read on the driver."""
    out = str(tmp_path / "out")
    pages = f"{corpus_dir}/pages.parquet"
    with spark_jobs(spark, "budget-crash") as crash:
        run_pipeline(spark, pages, corpus_dir, out, n_buckets=N_BUCKETS,
                     fail_after_buckets=N_BUCKETS // 2)
    with spark_jobs(spark, "budget-resume") as resume:
        run_pipeline(spark, pages, corpus_dir, out, n_buckets=N_BUCKETS)
    with spark_jobs(spark, "budget-noop") as noop:
        got = run_pipeline(spark, pages, corpus_dir, out,
                           n_buckets=N_BUCKETS)
    assert "skipped" in got
    assert noop == [0]
    assert crash[0] <= 2, crash
    assert resume[0] <= 2, resume


@contextmanager
def py4j_round_trips():
    """Yields a list that holds, after the block, the number of Py4J
    commands the block sent to the JVM. Memory commands are not counted:
    they release proxies Python's garbage collector freed, whichever code
    made them, whenever it happens to run."""
    send = ClientServerConnection.send_command
    got = []
    sent = [0]

    def counting(self, command):
        if not command.startswith("m\n"):
            sent[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        yield got
    finally:
        ClientServerConnection.send_command = send
        got.append(sent[0])


# measured: 92 round trips for the crash run and 92 for its resume, on
# every try; with the pass input built from Column expressions the same
# calls took 455 each. About 30% headroom.
ROUND_TRIP_BUDGET = 120


def test_py4j_round_trip_budget_per_call(spark, corpus_dir, tmp_path):
    """The driver builds a run's pass input as SQL text: a crash run and
    its resume each make at most ROUND_TRIP_BUDGET Py4J round trips once
    the session holds the gazetteer broadcast, and a no-op makes none."""
    pages = f"{corpus_dir}/pages.parquet"
    run_pipeline(spark, pages, corpus_dir, str(tmp_path / "warm"),
                 n_buckets=N_BUCKETS)
    out = str(tmp_path / "out")
    with py4j_round_trips() as crash:
        run_pipeline(spark, pages, corpus_dir, out, n_buckets=N_BUCKETS,
                     fail_after_buckets=N_BUCKETS // 2)
    with py4j_round_trips() as resume:
        run_pipeline(spark, pages, corpus_dir, out, n_buckets=N_BUCKETS)
    with py4j_round_trips() as noop:
        run_pipeline(spark, pages, corpus_dir, out, n_buckets=N_BUCKETS)
    assert noop == [0]
    assert crash[0] <= ROUND_TRIP_BUDGET, crash
    assert resume[0] <= ROUND_TRIP_BUDGET, resume


def test_return_counts_match_tables(spark, corpus_dir, tmp_path):
    """The footer-summed counts keep their cumulative meaning: after a
    crash, a resume and a resume=False rerun, each returned count is the
    row count of that table as Spark reads it."""
    out = str(tmp_path / "out")
    pages = f"{corpus_dir}/pages.parquet"
    for kw in ({"fail_after_buckets": 3}, {}, {"resume": False}):
        got = run_pipeline(spark, pages, corpus_dir, out,
                           n_buckets=N_BUCKETS, **kw)
        assert "skipped" not in got, kw
        want = {t: spark.read.parquet(os.path.join(out, t)).count()
                for t in TABLES}
        assert {t: got[t] for t in TABLES} == want, kw


def test_empty_pages_commits_sentinels(spark, corpus_dir, tmp_path):
    """A fresh run over an empty pages table returns the skip marker and
    commits one sentinel per bucket; the next call is a no-op."""
    empty = str(tmp_path / "empty_pages.parquet")
    schema = pq.read_table(f"{corpus_dir}/pages.parquet").schema
    pq.write_table(schema.empty_table(), empty)
    out = str(tmp_path / "out_empty")
    c1 = run_pipeline(spark, empty, corpus_dir, out, n_buckets=4)
    assert c1["docs"] == 0 and "skipped" in c1
    ckpt = spark.read.parquet(os.path.join(out, "checkpoint"))
    assert sorted(r.bucket for r in ckpt.collect()) == [0, 1, 2, 3]
    assert ckpt.filter("row_count != 0").count() == 0
    with spark_jobs(spark, "empty-noop") as noop:
        c2 = run_pipeline(spark, empty, corpus_dir, out, n_buckets=4)
    assert c2["docs"] == 0 and "skipped" in c2
    assert noop == [0]


def _spark_payload(spark, path):
    return [r.asDict() for r in spark.read.parquet(path).collect()]


def _typed(rows):
    return [[(k, v, type(v)) for k, v in r.items()] for r in rows]


def test_gazetteer_payload_matches_spark_collect(spark, corpus_dir,
                                                 tmp_path):
    """The pyarrow-read broadcast holds what a Spark collect would have:
    same values, same Python types, same row order — for the corpus's
    gazetteers and for a Spark-written table with dates and nulls."""
    paths = [f"{corpus_dir}/{n}.parquet" for n in ("persons", "places",
                                                   "orgs")]
    bc = load_gazetteers(spark, *paths)
    for loaded, path in zip(bc.value[1:], paths):
        assert _typed(loaded) == _typed(_spark_payload(spark, path))

    extra = str(tmp_path / "dated.parquet")
    spark.createDataFrame(
        [(1, "Bern", datetime.date(1848, 11, 28), ["capital"], True, 0.5),
         (2, None, None, [], False, None)],
        "id long, name string, valid_from date, roles array<string>, "
        "active boolean, weight double",
    ).coalesce(1).write.parquet(extra)
    bc = load_gazetteers(spark, extra, extra, extra)
    assert _typed(bc.value[1]) == _typed(_spark_payload(spark, extra))
    assert type(bc.value[1][0]["valid_from"]) is datetime.date
