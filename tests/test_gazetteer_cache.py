"""The gazetteer broadcast is cached per gazetteer content, never per path.

load_gazetteers returns the same Broadcast for the same bytes within one
SparkContext, so repeated runs reuse the driver-side read and the
per-worker trie. These tests pin both halves of that contract: unchanged
content is not re-broadcast, and content rewritten at the same path is
never served from the cache — neither on the driver nor by a Python
worker that still holds the old trie.
"""

import os
import shutil

import pyarrow.parquet as pq

from ocr_processing_pipeline_spark.extractor.ner import (
    GazetteerIndex, link_mentions)
from ocr_processing_pipeline_spark.pipeline.job import run_pipeline
from ocr_processing_pipeline_spark.pipeline.ner import load_gazetteers

NAMES = ("persons", "places", "orgs")


def _gaz_copy(corpus_dir, dest):
    """The corpus gazetteers copied to ``dest`` (so tests may rewrite
    them) and their three paths."""
    os.makedirs(dest)
    paths = []
    for n in NAMES:
        paths.append(os.path.join(dest, f"{n}.parquet"))
        shutil.copy(f"{corpus_dir}/{n}.parquet", paths[-1])
    return paths


def _drop_persons(path, keep):
    """Rewrite persons.parquet at the same path with its first ``keep``
    rows."""
    table = pq.read_table(path)
    pq.write_table(table.slice(0, keep), path)
    return table.slice(0, keep).to_pylist()


def test_same_content_same_broadcast(spark, corpus_dir, tmp_path):
    paths = _gaz_copy(corpus_dir, str(tmp_path / "gaz"))
    assert load_gazetteers(spark, *paths) is load_gazetteers(spark, *paths)


def test_rewritten_file_gets_new_broadcast(spark, corpus_dir, tmp_path):
    paths = _gaz_copy(corpus_dir, str(tmp_path / "gaz"))
    old = load_gazetteers(spark, *paths)
    n_old = len(old.value[1])
    new_rows = _drop_persons(paths[0], n_old // 2)
    new = load_gazetteers(spark, *paths)
    assert new is not old
    assert new.value[0] != old.value[0]
    assert new.value[1] == new_rows and len(new_rows) < n_old
    assert new.value[2:] == old.value[2:]


def _edges(spark, out):
    return sorted(
        (r.chunk_id, r.predicate, r.object, r.mention, r.entity_type,
         r.fuzzy_score, r.span_start, r.span_end)
        for r in spark.read.parquet(os.path.join(out, "edges")).collect())


def test_run_after_rewrite_links_against_new_gazetteers(
        spark, corpus_dir, corpus_rows, tmp_path):
    """A run warms every Python worker's trie on the old persons; after
    persons is emptied at the same path, a run into a fresh output links
    exactly as link_mentions over a fresh GazetteerIndex of the new
    files does — no PER edge survives from the old trie."""
    gdir = str(tmp_path / "gaz")
    paths = _gaz_copy(corpus_dir, gdir)
    pages_path = f"{corpus_dir}/pages.parquet"
    run_pipeline(spark, pages_path, gdir, str(tmp_path / "out1"),
                 n_buckets=4)
    assert any(e[4] == "PER" for e in _edges(spark, str(tmp_path / "out1")))

    _drop_persons(paths[0], 0)
    out = str(tmp_path / "out2")
    run_pipeline(spark, pages_path, gdir, out, n_buckets=4)

    index = GazetteerIndex(*[pq.read_table(p).to_pylist() for p in paths])
    dates = {r["url"]: r["warc_ts"].date() for r in corpus_rows[0]}
    want = []
    for c in spark.read.parquet(os.path.join(out, "chunks")).collect():
        for e in link_mentions(index.scan(c.content), index, dates[c.url],
                               c.content):
            want.append((c.chunk_id, e["predicate"], e["matched_url"],
                         e["mention"], e["entity_type"], e["fuzzy_score"],
                         e["span_start"], e["span_end"]))
    got = _edges(spark, out)
    assert want and got == sorted(want)
    assert not any(e[4] == "PER" for e in got)
