"""Physical-plan shape assertions: pushdown, pruning, broadcast, narrowness.

These lock in the scale properties SURVEY §4 promises: filters reach the
parquet scan, projections prune columns, small dims broadcast, and the
extraction pipeline is shuffle-free (mapInArrow chain over scan splits).
"""

import contextlib
import io

from pyspark.sql import functions as F

from ocr_processing_pipeline_spark.plans.queries import QUERIES, _ts

SF_DIR = "/root/testdata/sf0.001"


def plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_pushdown_and_column_pruning(spark):
    p = plan(QUERIES["filtered_scan"].fn(spark, SF_DIR))
    assert "PushedFilters:" in p
    assert "l_shipdate" in p.split("PushedFilters:")[1].split("\n")[0]
    # projection pruned to the 4 needed columns
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema
    assert "l_quantity" not in read_schema


def test_broadcast_join_used(spark):
    p = plan(QUERIES["broadcast_join_parts"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    p2 = plan(QUERIES["in_filter"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in p2


def test_partial_aggregation(spark):
    """Map-side combine: two HashAggregates around the exchange."""
    df = QUERIES["agg_pricing_summary"].fn(spark, SF_DIR)
    p = plan(df)
    assert p.count("HashAggregate") >= 2
    assert "partial_sum" in p          # map-side combine before shuffle


def test_extraction_stage_is_shuffle_free(spark, corpus_dir):
    from ocr_processing_pipeline_spark.pipeline.chunk import chunk_docs
    from ocr_processing_pipeline_spark.pipeline.extract import extract_docs
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    docs = extract_docs(pages)
    chunks = chunk_docs(docs)
    p = plan(chunks, mode="simple")
    assert "Exchange" not in p, "extract→chunk chain must not shuffle"
    assert p.count("MapInArrow") == 2
    assert "*(" in p                   # relational glue is codegen'd


def test_ner_stage_is_shuffle_free_and_broadcast_based(spark, corpus_dir):
    """The gazetteer 'join' is a broadcast variable inside the UDF —
    the whole chunks→edges stage stays narrow."""
    from ocr_processing_pipeline_spark.pipeline.chunk import chunk_docs
    from ocr_processing_pipeline_spark.pipeline.extract import extract_docs
    from ocr_processing_pipeline_spark.pipeline.ner import (
        link_entities, load_gazetteers)
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    gaz = load_gazetteers(spark,
                          f"{corpus_dir}/persons.parquet",
                          f"{corpus_dir}/places.parquet",
                          f"{corpus_dir}/orgs.parquet")
    edges = link_entities(chunk_docs(extract_docs(pages)), gaz)
    p = plan(edges)
    assert "Exchange" not in p


def test_anti_join_resume_is_broadcast(spark, corpus_dir, tmp_path):
    from ocr_processing_pipeline_spark.pipeline import lineage
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "docs")], "bucket int, table_name string"
    ).write.parquet(ckpt)
    remaining = lineage.remaining_pages(spark, pages, ckpt, "docs", 8)
    p = plan(remaining)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_topk_uses_take_ordered(spark):
    """Global top-k must be TakeOrderedAndProject (per-partition heads),
    never a full global sort."""
    p = plan(QUERIES["embedding_topk"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p


def test_semi_join_layered_broadcast(spark):
    p = plan(QUERIES["semi_join_layered"].fn(spark, SF_DIR))
    assert "LeftSemi" in p


def test_exact_dedup_single_shuffle(spark):
    from ocr_processing_pipeline_spark.operators.dedup import exact_dedup
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(exact_dedup(d, "text", "doc_id"), mode="simple")
    assert p.count("Exchange") == 1


def test_layered_search_broadcast_semi_join(spark):
    """Coarse-to-fine: the doc top-k restricts the corpus via a broadcast
    LEFT SEMI join BEFORE any chunk explode. The operator checkpoints
    the chunk-token projection (its two consumer legs would otherwise
    re-run the top-k + semi-join + explode each — r7), which hides the
    join inside the materialized prefix; assert the join shape on the
    frame handed to that last localCheckpoint, and the shared-leg shape
    (zero parquet scans, checkpoint reads) on the registered query."""
    import os

    from ocr_processing_pipeline_spark.operators.search import layered_topk
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    # type(d), not pyspark.sql.DataFrame: the concrete class differs
    # between pyspark versions (classic vs connect)
    cls = type(d)
    checkpoint = cls.localCheckpoint
    handed = []

    def capture(self, *args, **kwargs):
        handed.append(self)
        return checkpoint(self, *args, **kwargs)

    cls.localCheckpoint = capture
    try:
        layered_topk(d, "text", "doc_id", ["spark", "query", "window"],
                     doc_k=20, k=10, chunk_tokens=64)
    finally:
        cls.localCheckpoint = checkpoint
    p = plan(handed[-1])
    assert "LeftSemi" in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    preg = plan(QUERIES["layered_search"].fn(spark, SF_DIR))
    assert preg.count("Scan parquet") == 0, preg
    assert "ExistingRDD" in preg


def test_bm25_no_corpus_wide_token_shuffle(spark):
    """BM25 must not explode every token of every document: the only
    exploded tokens are query-term hits (filtered inside the array), and
    corpus stats come from one aggregation — no driver-side count()."""
    from ocr_processing_pipeline_spark.operators.search import bm25_topk
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = bm25_topk(d, "text", "doc_id", ["spark", "query"], k=10)
    p = plan(df)
    # the hits array is filtered to query terms before the explode
    gen = p.split("Generate explode")[1].split("\n")[0] if (
        "Generate explode" in p) else p
    assert "filter(" in gen.lower() or "hits" in gen


def test_bm25_single_corpus_scan(spark):
    """bm25_scores' scale contract is ONE corpus pass: the checkpointed
    (key, doc_len, hits) projection feeds stats, tf, and df — without it
    each leg got its own FileScan (3 corpus reads per query)."""
    from ocr_processing_pipeline_spark.operators.search import bm25_scores
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = bm25_scores(docs, "text", "doc_id", ["the", "and", "window"])
    p = plan(out)
    assert p.count("Scan parquet") == 0, p
    assert "ExistingRDD" in p


def test_jaccard_single_corpus_scan(spark):
    """jaccard_pairs materializes the hashed inverted index once: the
    sizes leg and both self-join sides read the checkpoint, so at most
    one parquet scan of the corpus appears in the final plan."""
    from ocr_processing_pipeline_spark.operators.dedup import (
        jaccard_pairs, shingles)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = jaccard_pairs(shingles(docs, "text", "doc_id", n=3),
                        min_jaccard=0.1)
    p = plan(out)
    assert p.count("Scan parquet") == 0, p
    assert "ExistingRDD" in p


def test_curated_corpus_reads_materialized_decisions(spark):
    """curated_corpus must consume the decisions TABLE written once per
    corpus (dedup_decisions_dir), not re-derive the LSH chain inside the
    composition: its plan reads a dedup_components_* parquet and runs no
    iterative label-propagation jobs at composition time."""
    import contextlib
    import io

    from ocr_processing_pipeline_spark.plans.queries import QUERIES
    df = QUERIES["curated_corpus"].fn(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "dedup_components_" in buf.getvalue(), \
        "curated_corpus no longer reads the materialized decisions table"


def test_snapshot_ingest_reads_materialized_verdicts(spark):
    """snapshot_ingest must consume the verdicts TABLE written once per
    snapshot (dedup_verdicts_dir), not re-probe the band index inside
    the composition: its plan reads a dedup_verdicts_* parquet."""
    import contextlib
    import io

    from ocr_processing_pipeline_spark.plans.queries import QUERIES
    df = QUERIES["snapshot_ingest"].fn(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "dedup_verdicts_" in buf.getvalue(), \
        "snapshot_ingest no longer reads the materialized verdicts table"


def test_worker_memo_identity_per_broadcast(spark):
    """The linking memo is a worker-lifetime singleton per gazetteer
    content: same content -> same memo dict; new content -> fresh memo
    (a stale memo would serve decisions from other gazetteers)."""
    from ocr_processing_pipeline_spark.pipeline.ner import (
        _get_index_and_memo)
    bc1 = spark.sparkContext.broadcast(("tok1", [], [], []))
    idx1, memo1 = _get_index_and_memo(bc1)
    memo1["probe"] = 1
    idx1b, memo1b = _get_index_and_memo(bc1)
    assert idx1 is idx1b and memo1 is memo1b and memo1b["probe"] == 1
    bc2 = spark.sparkContext.broadcast(("tok2", [], [], []))
    idx2, memo2 = _get_index_and_memo(bc2)
    assert memo2 is not memo1 and "probe" not in memo2


def test_scan_spread_follows_rewritten_layout(spark, tmp_path):
    """_ts spreads a table whose scan yields fewer partitions than the
    session's parallelism and leaves one that yields enough alone. The
    decision is memoised per table layout, so rewriting a one-file table
    as one file per core under the same session drops the spread."""
    path = str(tmp_path / "t.parquet")
    rows = spark.range(64)
    rows.coalesce(1).write.parquet(path)
    assert "Exchange" in plan(_ts(spark, str(tmp_path), "t"), "simple")
    n = spark.sparkContext.defaultParallelism
    rows.repartition(n).write.mode("overwrite").parquet(path)
    assert "Exchange" not in plan(_ts(spark, str(tmp_path), "t"), "simple")
