"""Resumability: partial commit → resume → no duplicates, full coverage.

Replaces the reference's processed_documents.txt semantics
(entity_extractor/apertus_ner/orchestrator.py:38-43) with the checkpoint
anti-join — SURVEY §5.2 test 5.
"""

import datetime
import json
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from ocr_processing_pipeline_spark.pipeline import lineage, ner
from ocr_processing_pipeline_spark.pipeline.job import run_pipeline

N_BUCKETS = 8


def test_partial_then_resume(spark, corpus_dir, tmp_path):
    out = str(tmp_path / "out")
    pages_path = f"{corpus_dir}/pages.parquet"
    n_pages = spark.read.parquet(pages_path).count()

    # run 1: process only 3 buckets, then "crash"
    c1 = run_pipeline(spark, pages_path, corpus_dir, out,
                      n_buckets=N_BUCKETS, fail_after_buckets=3)
    assert 0 < c1["docs"] < n_pages
    assert c1["checkpoint"] == 3

    # run 2: resume — must process ONLY the remaining buckets
    c2 = run_pipeline(spark, pages_path, corpus_dir, out,
                      n_buckets=N_BUCKETS)
    assert c2["docs"] == n_pages
    assert c2["checkpoint"] == N_BUCKETS

    docs = spark.read.parquet(os.path.join(out, "docs"))
    # no duplicates, full coverage
    assert docs.count() == n_pages
    assert docs.select("url").distinct().count() == n_pages

    # run 3: everything committed → no-op
    c3 = run_pipeline(spark, pages_path, corpus_dir, out,
                      n_buckets=N_BUCKETS)
    assert c3["docs"] == 0 and "skipped" in c3
    # and the stored tables are untouched
    assert spark.read.parquet(os.path.join(out, "docs")).count() == n_pages


def test_idempotent_rerun_no_resume(spark, corpus_dir, tmp_path):
    """Force-reprocessing everything must not duplicate rows (dynamic
    partition overwrite) — idempotent re-append guard, SURVEY §7.6 — and
    must leave exactly one checkpoint row per bucket: resume=False
    forgets the old checkpoint instead of appending to it."""
    out = str(tmp_path / "out2")
    pages_path = f"{corpus_dir}/pages.parquet"
    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS)
    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS,
                 resume=False)
    docs = spark.read.parquet(os.path.join(out, "docs"))
    n_pages = spark.read.parquet(pages_path).count()
    assert docs.count() == n_pages
    assert docs.groupBy("url").count().filter(F.col("count") > 1).count() == 0
    ckpt = spark.read.parquet(os.path.join(out, "checkpoint")).collect()
    assert sorted(r.bucket for r in ckpt) == list(range(N_BUCKETS))
    assert sum(r.row_count for r in ckpt) == n_pages


def test_resume_rejects_mismatched_n_buckets(spark, corpus_dir, tmp_path):
    """Bucket ids are defined relative to n_buckets: resuming with a
    different value re-buckets the url space and the committed-bucket
    anti-join would silently reprocess (or skip) the wrong pages. The
    contract is recorded in checkpoint_meta.json at first commit; a
    mismatched resume must fail loudly, never mis-decide."""
    import pytest
    out = str(tmp_path / "out_mismatch")
    pages_path = f"{corpus_dir}/pages.parquet"
    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS)
    with pytest.raises(ValueError, match="n_buckets"):
        run_pipeline(spark, pages_path, corpus_dir, out,
                     n_buckets=N_BUCKETS * 2)
    # the original value still resumes cleanly (no-op)
    c = run_pipeline(spark, pages_path, corpus_dir, out,
                     n_buckets=N_BUCKETS)
    assert "skipped" in c


def _inputs_copy(corpus_dir, dest):
    """pages.parquet and the three gazetteers copied under ``dest`` (so a
    test may rewrite them): (pages path, gazetteers dir)."""
    os.makedirs(dest)
    for n in ("pages", "persons", "places", "orgs"):
        shutil.copy(f"{corpus_dir}/{n}.parquet", dest)
    return os.path.join(dest, "pages.parquet"), dest


def _drop_last_row(path):
    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows - 1), path)


@pytest.mark.parametrize("changed", ["pages", "persons"])
def test_resume_rejects_changed_input(spark, corpus_dir, tmp_path, changed):
    """The committed buckets were computed from the recorded pages and
    gazetteers: after a crash, a resume over a changed pages file or a
    changed gazetteer must fail loudly instead of mixing two generations
    in one output. resume=False starts over on the new input and leaves
    one checkpoint row per bucket."""
    pages_path, gdir = _inputs_copy(corpus_dir, str(tmp_path / "in"))
    out = str(tmp_path / "out")
    run_pipeline(spark, pages_path, gdir, out, n_buckets=N_BUCKETS,
                 fail_after_buckets=3)
    _drop_last_row(os.path.join(gdir, f"{changed}.parquet"))
    name = "pages" if changed == "pages" else "gazetteers"
    with pytest.raises(ValueError, match=f"the {name} input changed"):
        run_pipeline(spark, pages_path, gdir, out, n_buckets=N_BUCKETS)

    c = run_pipeline(spark, pages_path, gdir, out, n_buckets=N_BUCKETS,
                     resume=False)
    n_pages = pq.read_metadata(pages_path).num_rows
    assert c["docs"] == n_pages
    ckpt = spark.read.parquet(os.path.join(out, "checkpoint")).collect()
    assert sorted(r.bucket for r in ckpt) == list(range(N_BUCKETS))
    assert sum(r.row_count for r in ckpt) == n_pages


def test_resume_adopts_meta_without_fingerprints(spark, corpus_dir,
                                                 tmp_path):
    """A meta file that records only n_buckets (written before the input
    fingerprints existed) is not a mismatch: the resume records them."""
    pages_path = f"{corpus_dir}/pages.parquet"
    out = str(tmp_path / "out")
    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS,
                 fail_after_buckets=3)
    meta_path = os.path.join(out, "checkpoint_meta.json")
    with open(meta_path, "w") as fh:
        json.dump({"n_buckets": N_BUCKETS}, fh)
    c = run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS)
    assert c["checkpoint"] == N_BUCKETS
    with open(meta_path) as fh:
        assert set(json.load(fh)) == {"n_buckets", "max_page_bytes",
                                      "pages_fingerprint",
                                      "gazetteers_fingerprint"}


def test_resume_rejects_changed_gate(spark, corpus_dir, tmp_path):
    """The giant-page gate is part of the out dir's contract: after a
    crash run at one max_page_bytes, a resume at another must fail
    loudly instead of gating the output's buckets two ways. resume=False
    starts over and records the new value (null when the gate is off)."""
    pages_path = f"{corpus_dir}/pages.parquet"
    out = str(tmp_path / "out")
    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS,
                 fail_after_buckets=3, max_page_bytes=1024)
    with pytest.raises(ValueError, match="max_page_bytes=1024"):
        run_pipeline(spark, pages_path, corpus_dir, out,
                     n_buckets=N_BUCKETS)

    c = run_pipeline(spark, pages_path, corpus_dir, out,
                     n_buckets=N_BUCKETS, resume=False, max_page_bytes=None)
    assert c["checkpoint"] == N_BUCKETS
    with open(os.path.join(out, "checkpoint_meta.json")) as fh:
        assert json.load(fh)["max_page_bytes"] is None


def _uri(path):
    return "file://" + os.path.abspath(path)


def _gazetteers(gdir):
    return [os.path.join(gdir, f"{n}.parquet")
            for n in ("persons", "places", "orgs")]


def test_fingerprints_read_uris(corpus_dir, tmp_path):
    """A file:// URI names the same input as its plain path: the pages
    fingerprint (of a file and of a directory with a marker file) and
    the gazetteer digest read it through the out dir's filesystem and
    give the plain path's value. A gazetteer URI with no file raises."""
    pages = f"{corpus_dir}/pages.parquet"
    pages_dir = tmp_path / "pages_dir"
    pages_dir.mkdir()
    shutil.copy(pages, pages_dir / "part-0.parquet")
    (pages_dir / "_SUCCESS").touch()
    for path in (pages, str(pages_dir)):
        assert (lineage.pages_fingerprint(_uri(path))
                == lineage.pages_fingerprint(path)), path
    gaz = _gazetteers(corpus_dir)
    assert (ner.gazetteer_digest(*map(_uri, gaz))
            == ner.gazetteer_digest(*gaz))
    with pytest.raises(FileNotFoundError):
        ner.gazetteer_digest(_uri(tmp_path / "missing.parquet"), *gaz[1:])


def test_fingerprints_tell_uri_inputs_apart(corpus_dir, tmp_path):
    """Two different inputs named by URI get different fingerprints,
    so the resume guard holds for a URI input too."""
    pages, gdir = _inputs_copy(corpus_dir, str(tmp_path / "in"))
    _drop_last_row(pages)
    _drop_last_row(os.path.join(gdir, "persons.parquet"))
    assert (lineage.pages_fingerprint(_uri(pages))
            != lineage.pages_fingerprint(_uri(f"{corpus_dir}/pages.parquet")))
    assert (ner.gazetteer_digest(*map(_uri, _gazetteers(gdir)))
            != ner.gazetteer_digest(*map(_uri, _gazetteers(corpus_dir))))


def test_noop_fast_path_with_empty_buckets(spark, corpus_dir, tmp_path):
    """A corpus that leaves buckets EMPTY (fewer urls than buckets) must
    still close the all-committed fast path: empty buckets get sentinel
    checkpoint rows at completion, so the no-op resume decides from the
    checkpoint alone — proven by handing it a nonexistent input path."""
    small = str(tmp_path / "small_pages.parquet")
    (spark.read.parquet(f"{corpus_dir}/pages.parquet").limit(10)
     .write.parquet(small))
    out = str(tmp_path / "out_empty")
    n_buckets = 32           # 10 urls -> >= 22 empty buckets
    c1 = run_pipeline(spark, small, corpus_dir, out, n_buckets=n_buckets)
    assert c1["checkpoint"] == n_buckets   # sentinels included
    c2 = run_pipeline(spark, str(tmp_path / "does_not_exist.parquet"),
                      corpus_dir, out, n_buckets=n_buckets)
    assert c2["docs"] == 0 and "skipped" in c2


def test_empty_todo_resume_backfills_sentinels(spark, corpus_dir, tmp_path):
    """A checkpoint whose non-empty buckets are all committed but whose
    empty buckets carry no sentinel rows (e.g. written before every run
    committed them) must be healed by the next full resume: it finds
    todo empty, commits the missing sentinels, and the no-op fast path
    closes from then on."""
    small = str(tmp_path / "small_pages2.parquet")
    (spark.read.parquet(f"{corpus_dir}/pages.parquet").limit(10)
     .write.parquet(small))
    out = str(tmp_path / "out_backfill")
    n_buckets = 32
    run_pipeline(spark, small, corpus_dir, out, n_buckets=n_buckets)
    # the premise: the same checkpoint without its sentinel rows
    ckpt_dir = os.path.join(out, "checkpoint")
    kept = pq.read_table(ckpt_dir).filter(pc.field("row_count") > 0)
    shutil.rmtree(ckpt_dir)
    os.makedirs(ckpt_dir)
    pq.write_table(kept, os.path.join(ckpt_dir, "part-0.parquet"))
    assert 0 < len(lineage.committed_bucket_ids(ckpt_dir, "docs")) < n_buckets
    # full resume: todo is empty -> backfills the empty-bucket sentinels
    c2 = run_pipeline(spark, small, corpus_dir, out, n_buckets=n_buckets)
    assert "skipped" in c2
    ckpt = spark.read.parquet(f"{out}/checkpoint")
    assert ckpt.select("bucket").distinct().count() == n_buckets
    # and now the no-op fast path never opens the input
    c3 = run_pipeline(spark, str(tmp_path / "nope.parquet"),
                      corpus_dir, out, n_buckets=n_buckets)
    assert "skipped" in c3


def test_noop_resume_never_touches_input(spark, corpus_dir, tmp_path):
    """Once every bucket is committed, resume must decide 'nothing to do'
    from the checkpoint table ALONE — at 100 TB a no-op restart cannot
    afford to list/scan the corpus. Proven by handing the resumed run a
    nonexistent pages path: it must still return the skip marker."""
    out = str(tmp_path / "out")
    pages_path = f"{corpus_dir}/pages.parquet"
    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS)
    c = run_pipeline(spark, str(tmp_path / "does_not_exist.parquet"),
                     corpus_dir, out, n_buckets=N_BUCKETS)
    assert c["docs"] == 0 and "skipped" in c


def test_malformed_pages_fail_before_any_write(spark, corpus_dir, tmp_path):
    """A pages path with no data file, and a pages file without the html
    column, each raise before anything is written: no docs table."""
    no_files = tmp_path / "no_files.parquet"
    no_files.mkdir()
    (no_files / "_SUCCESS").touch()
    no_html = str(tmp_path / "no_html.parquet")
    pq.write_table(pq.read_table(f"{corpus_dir}/pages.parquet")
                   .drop_columns("html"), no_html)
    for i, pages_path in enumerate((str(no_files), no_html)):
        out = str(tmp_path / f"out{i}")
        with pytest.raises((AnalysisException, ValueError)):
            run_pipeline(spark, pages_path, corpus_dir, out,
                         n_buckets=N_BUCKETS)
        assert not os.path.exists(os.path.join(out, "docs")), pages_path


def _data_files(table_dir):
    """bucket dir name → the data files in it (names not starting with
    ``.`` or ``_``, as Spark's reader sees them)."""
    return {b: sorted(f for f in os.listdir(os.path.join(table_dir, b))
                      if f[0] not in "._")
            for b in os.listdir(table_dir)}


def _assert_one_file_per_bucket(out, n_buckets=N_BUCKETS):
    for table in ("docs", "chunks", "edges"):
        files = _data_files(os.path.join(out, table))
        assert sorted(files) == sorted(
            f"bucket={b}" for b in range(n_buckets)), table
        assert all(len(f) == 1 for f in files.values()), (table, files)


def test_crash_before_checkpoint_append_recovers(spark, corpus_dir, tmp_path,
                                                 monkeypatch):
    """A crash after every task wrote its files but before the checkpoint
    append commits nothing; the next run rewrites every bucket in place:
    one doc per page, no duplicate doc_id, one data file per (table,
    bucket)."""
    out = str(tmp_path / "out")
    pages_path = f"{corpus_dir}/pages.parquet"
    append = lineage.append_checkpoint
    calls = []

    def crash_once(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("crash before the checkpoint append")
        return append(*args, **kwargs)

    monkeypatch.setattr(lineage, "append_checkpoint", crash_once)
    with pytest.raises(RuntimeError, match="crash before"):
        run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS)
    _assert_one_file_per_bucket(out)
    assert not os.path.exists(os.path.join(out, "checkpoint"))

    c = run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS)
    assert len(calls) == 2 and c["checkpoint"] == N_BUCKETS
    n_pages = pq.read_metadata(pages_path).num_rows
    docs = spark.read.parquet(os.path.join(out, "docs"))
    assert docs.count() == n_pages
    assert docs.select("doc_id").distinct().count() == n_pages
    _assert_one_file_per_bucket(out)


def test_resume_replaces_stale_bucket_files(spark, corpus_dir, tmp_path):
    """An uncommitted bucket directory holding a stale data file (a copy
    of a committed bucket's) and a leftover temp file holds exactly one
    data file after the resume, and its rows equal a clean run's."""
    pages_path = f"{corpus_dir}/pages.parquet"
    clean = str(tmp_path / "clean")
    run_pipeline(spark, pages_path, corpus_dir, clean, n_buckets=N_BUCKETS)
    out = str(tmp_path / "out")
    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS,
                 fail_after_buckets=3)
    done = lineage.committed_bucket_ids(os.path.join(out, "checkpoint"),
                                        "docs")
    stale = min(set(range(N_BUCKETS)) - done)
    for table in ("docs", "chunks", "edges"):
        src = os.path.join(out, table, f"bucket={min(done)}")
        dst = os.path.join(out, table, f"bucket={stale}")
        os.makedirs(dst, exist_ok=True)
        shutil.copy(os.path.join(src, _data_files(
            os.path.join(out, table))[f"bucket={min(done)}"][0]),
            os.path.join(dst, "part-00000-stale.c000.zstd.parquet"))
        with open(os.path.join(dst, ".tmp-leftover.parquet"), "wb") as fh:
            fh.write(b"partial")

    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS)
    for table in ("docs", "chunks", "edges"):
        d = os.path.join(out, table, f"bucket={stale}")
        assert len(_data_files(os.path.join(out, table))[
            f"bucket={stale}"]) == 1, table
        assert not os.path.exists(os.path.join(d, ".tmp-leftover.parquet"))

        def rows(root, table=table):
            df = (spark.read.parquet(os.path.join(root, table))
                  .filter(F.col("bucket") == stale))
            return sorted(df.drop("extract_us").collect(), key=repr)
        assert rows(out) == rows(clean), table
    _assert_one_file_per_bucket(out)


def test_session_time_zone_keeps_instants(spark, corpus_dir, tmp_path):
    """Under a Europe/Zurich session time zone, docs.warc_ts and
    chunks.warc_ts hold the input instants, both occurrences of the
    repeated DST fall-back hour included (compared as epoch micros)."""
    utc = datetime.timezone.utc
    rows = pq.read_table(f"{corpus_dir}/pages.parquet").slice(0, 12)
    stamps = rows.column("warc_ts").to_pylist()
    # 02:30 local twice on 2024-10-27: summer time, then standard time
    stamps[0] = datetime.datetime(2024, 10, 27, 0, 30, tzinfo=utc)
    stamps[1] = datetime.datetime(2024, 10, 27, 1, 30, tzinfo=utc)
    i = rows.schema.get_field_index("warc_ts")
    pages_path = str(tmp_path / "pages.parquet")
    pq.write_table(rows.set_column(i, rows.schema.field(i), pa.array(
        stamps, pa.timestamp("us", tz="UTC"))), pages_path)
    out = str(tmp_path / "out")

    def micros(path):
        return {tuple(r) for r in spark.read.parquet(path).select(
            "url", F.unix_micros("warc_ts")).collect()}

    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Europe/Zurich")
    try:
        run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=4)
        want = micros(pages_path)
        docs = micros(os.path.join(out, "docs"))
        chunks = micros(os.path.join(out, "chunks"))
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert len(want) == 12
    assert docs == want
    assert chunks and chunks <= want


def test_rerun_empties_buckets_that_lost_their_pages(spark, corpus_dir,
                                                     tmp_path):
    """resume=False over pages that no longer reach some bucket leaves
    that bucket empty in every table: an earlier run's rows never
    survive next to the new ones."""
    pages_path = str(tmp_path / "pages.parquet")
    table = pq.read_table(f"{corpus_dir}/pages.parquet").slice(0, 10)
    pq.write_table(table, pages_path)
    out = str(tmp_path / "out")
    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=32)
    pq.write_table(table.slice(0, 4), pages_path)
    c = run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=32,
                     resume=False)
    assert c["docs"] == 4 and c["checkpoint"] == 32
    urls = set(table.column("url").to_pylist()[:4])
    for t in ("docs", "chunks", "edges"):
        got = {r.url for r in spark.read.parquet(
            os.path.join(out, t)).select("url").collect()}
        assert got <= urls, t
    _assert_one_file_per_bucket(out, 32)


def test_file_uri_out_dir_resumes(spark, corpus_dir, tmp_path, monkeypatch):
    """A ``file://`` out dir resumes like a plain path: a crash run, its
    resume and a no-op, with the process in an empty directory. The
    no-op returns the skip marker, the checkpoint holds one row per
    bucket, and nothing lands under the current directory."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    out = (tmp_path / "out").as_uri()
    pages_path = f"{corpus_dir}/pages.parquet"
    c1 = run_pipeline(spark, pages_path, corpus_dir, out,
                      n_buckets=N_BUCKETS, fail_after_buckets=4)
    assert c1["checkpoint"] <= 4
    c2 = run_pipeline(spark, pages_path, corpus_dir, out,
                      n_buckets=N_BUCKETS)
    assert c2["checkpoint"] == N_BUCKETS
    assert c2["docs"] == pq.read_metadata(pages_path).num_rows
    c3 = run_pipeline(spark, pages_path, corpus_dir, out,
                      n_buckets=N_BUCKETS)
    assert c3["docs"] == 0 and "skipped" in c3
    ckpt = spark.read.parquet(f"{out}/checkpoint").collect()
    assert sorted(r.bucket for r in ckpt) == list(range(N_BUCKETS))
    assert os.path.isfile(tmp_path / "out" / "checkpoint_meta.json")
    assert os.listdir(cwd) == []


def test_leftover_checkpoint_temp_files_are_ignored(spark, corpus_dir,
                                                    tmp_path):
    """A checkpoint directory that holds only what a crashed append can
    leave — a ``.``-prefixed temp file and a ``_temporary/`` directory —
    commits nothing: the next run processes every bucket and the call
    after it is a no-op."""
    out = tmp_path / "out"
    pages_path = f"{corpus_dir}/pages.parquet"
    ckpt = out / "checkpoint"
    attempt = ckpt / "_temporary" / "0" / "_temporary" / "attempt_0"
    attempt.mkdir(parents=True)
    (ckpt / ".tmp-leftover.parquet").write_bytes(b"partial")
    (attempt / "part-00000.parquet").write_bytes(b"partial")
    assert lineage.committed_bucket_ids(str(ckpt), "docs") == set()

    c1 = run_pipeline(spark, pages_path, corpus_dir, str(out),
                      n_buckets=N_BUCKETS)
    assert c1["docs"] == pq.read_metadata(pages_path).num_rows
    assert c1["checkpoint"] == N_BUCKETS
    c2 = run_pipeline(spark, pages_path, corpus_dir, str(out),
                      n_buckets=N_BUCKETS)
    assert c2["docs"] == 0 and "skipped" in c2
