"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship extraction pipeline on a deterministic
  synthetic pages corpus sized to sf0.001, joined with chunk/edge counts.
- ``queries()``: every implemented operator from SURVEY.md §2 (registry in
  ocr_processing_pipeline_spark/plans/queries.py) — 85 queries, 81
  oracle-gated via DuckDB SQL twins, plus the four pipeline_* queries with
  rows-only checks (their real gate is the pytest byte-identity suite).
- ``oracle_sql()``: the DuckDB twins, alias-matched column for column.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ocr_processing_pipeline_spark.plans import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extraction → chunking → NER over the synthetic pages
    corpus (sf0.001 scale), returning per-document results."""
    sf_dir = "/root/testdata/sf0.001"
    Q.ensure_workers_can_import(spark)
    corpus = Q.pages_corpus_dir(sf_dir)

    from ocr_processing_pipeline_spark.pipeline.chunk import chunk_docs
    from ocr_processing_pipeline_spark.pipeline.extract import extract_docs
    from ocr_processing_pipeline_spark.pipeline.ner import (
        link_entities, load_gazetteers)

    pages = spark.read.parquet(os.path.join(corpus, "pages.parquet"))
    docs = extract_docs(pages).drop("spans")
    chunks = chunk_docs(docs.select("doc_id", "url", "warc_ts", "text",
                                    "lang"))
    gaz = load_gazetteers(
        spark,
        os.path.join(corpus, "persons.parquet"),
        os.path.join(corpus, "places.parquet"),
        os.path.join(corpus, "orgs.parquet"))
    edges = link_entities(chunks, gaz)

    chunk_stats = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("n_chunk_tokens"))
    edge_stats = edges.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_entities"))
    return (docs
            .join(chunk_stats, "doc_id", "left")
            .join(edge_stats, "doc_id", "left")
            .select("doc_id", "url", "warc_ts", "lang", "detected_lang",
                    "token_length", "failure_code", "content_kind",
                    F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
                    F.coalesce("n_chunk_tokens", F.lit(0))
                    .alias("n_chunk_tokens"),
                    F.coalesce("n_entities", F.lit(0)).alias("n_entities")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return Q.queries()


def oracle_sql() -> dict[str, str]:
    return Q.oracle_sql()
