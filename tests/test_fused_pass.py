"""run_pipeline's single Python pass: what it writes and how it plans it.

run_pipeline extracts, chunks, scans and links every page in one
mapInPandas pass, persists that stage once and writes every table from
it. These tests pin that its tables equal the standalone stage functions'
output row for row, and that every table it writes is a projection of
one cached stage rather than a read-back of a table it just wrote.
"""

import contextlib
import io
import os

from ocr_processing_pipeline_spark.pipeline import lineage
from ocr_processing_pipeline_spark.pipeline.chunk import chunk_docs
from ocr_processing_pipeline_spark.pipeline.extract import extract_docs
from ocr_processing_pipeline_spark.pipeline.job import run_pipeline
from ocr_processing_pipeline_spark.pipeline.ner import (
    extract_mentions, link_entities, load_gazetteers)

N_BUCKETS = 8


def _rows(df):
    return sorted(df.collect(), key=repr)


def test_tables_match_standalone_chain(spark, corpus_dir, tmp_path):
    """After a crash run and its resume, docs (less the extract_us
    timing), chunks, edges and mentions equal the standalone chain
    extract_docs → chunk_docs → link_entities / extract_mentions (joined
    with url) over the same pages: same columns, same rows."""
    out = str(tmp_path / "out")
    pages_path = f"{corpus_dir}/pages.parquet"
    for kw in ({"fail_after_buckets": 3}, {}):
        got = run_pipeline(spark, pages_path, corpus_dir, out,
                           n_buckets=N_BUCKETS, with_mentions=True, **kw)
        assert "skipped" not in got, kw

    gaz = load_gazetteers(spark, *[f"{corpus_dir}/{n}.parquet"
                                   for n in ("persons", "places", "orgs")])
    docs = extract_docs(spark.read.parquet(pages_path)).localCheckpoint()
    chunks = chunk_docs(docs).localCheckpoint()
    want = {
        "docs": docs.drop("extract_us"),
        "chunks": chunks,
        "edges": link_entities(chunks, gaz),
        "mentions": extract_mentions(chunks, gaz).join(
            chunks.select("chunk_id", "url"), "chunk_id"),
    }
    for table, expected in want.items():
        written = spark.read.parquet(os.path.join(out, table)).drop(
            "bucket", "extract_us")
        assert written.columns == expected.columns, table
        w, e = _rows(written), _rows(expected)
        assert e, table
        assert w == e, table


def _plan(df) -> str:
    """The physical plan; once adaptive execution has run the cached
    plan, only its final version (not the initial one printed after)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue().split("== Initial Plan ==")[0]


def test_writes_project_one_cached_pass(spark, corpus_dir, tmp_path,
                                        monkeypatch):
    """Every DataFrame one run hands to write_partitioned reads the same
    cached relation, whose plan holds exactly one MapInPandas and the
    bucket repartition as its only Exchange; none scans the docs or
    chunks table the run is writing. The run releases the cache."""
    out = str(tmp_path / "out")
    plans = []
    write = lineage.write_partitioned

    def capture(df, path):
        plans.append(_plan(df))
        write(df, path)

    monkeypatch.setattr(lineage, "write_partitioned", capture)
    cache = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache.isEmpty()
    run_pipeline(spark, f"{corpus_dir}/pages.parquet", corpus_dir, out,
                 n_buckets=N_BUCKETS, with_mentions=True)

    assert len(plans) == 4
    relations = set()
    for p in plans:
        assert p.count("MapInPandas") == 1, p
        assert p.count("Exchange") == 1, p
        assert "InMemoryTableScan" in p, p
        relations |= {line.strip() for line in p.splitlines()
                      if "InMemoryRelation" in line}
        for table in ("docs", "chunks"):
            assert os.path.join(out, table) not in p, p
    assert len(relations) == 1, relations
    # the cache holds one run's output only: released when the run ends
    assert cache.isEmpty() == was_empty

