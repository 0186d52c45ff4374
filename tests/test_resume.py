"""Resumability: partial commit → resume → no duplicates, full coverage.

Replaces the reference's processed_documents.txt semantics
(entity_extractor/apertus_ner/orchestrator.py:38-43) with the checkpoint
anti-join — SURVEY §5.2 test 5.
"""

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

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


def test_with_mentions_table(spark, corpus_dir, tmp_path):
    out = str(tmp_path / "out_m")
    run_pipeline(spark, f"{corpus_dir}/pages.parquet", corpus_dir, out,
                 n_buckets=4, with_mentions=True)
    m = spark.read.parquet(os.path.join(out, "mentions"))
    assert m.count() > 0
    assert {"chunk_id", "mention", "entity_type", "span_start",
            "span_end", "url", "bucket"} <= set(m.columns)


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
        assert set(json.load(fh)) == {"n_buckets", "pages_fingerprint",
                                      "gazetteers_fingerprint"}


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
    empty buckets carry no sentinel rows (e.g. written by a partial run)
    must be healed by the next full resume: it finds todo empty, commits
    the missing sentinels, and the no-op fast path closes from then on."""
    small = str(tmp_path / "small_pages2.parquet")
    (spark.read.parquet(f"{corpus_dir}/pages.parquet").limit(10)
     .write.parquet(small))
    out = str(tmp_path / "out_backfill")
    n_buckets = 32
    # partial-mode run that happens to cover every non-empty bucket —
    # sentinels deliberately NOT committed (fail_after_buckets set)
    c1 = run_pipeline(spark, small, corpus_dir, out, n_buckets=n_buckets,
                      fail_after_buckets=n_buckets)
    assert 0 < c1["checkpoint"] < n_buckets
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
