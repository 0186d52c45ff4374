"""Shared pre-warm for the r7 measurement tools: materialize the same
five artifact tables bench.py warms, so isolated timings match the
in-bench timed region. Kept as its own module so tools/bench_extra.py
warms exactly what bench.py does (a sixth artifact is added here)."""

from __future__ import annotations


def warm_materialized(spark, sf_dir: str) -> None:
    import os

    from ocr_processing_pipeline_spark.plans.queries import (
        dedup_decisions_dir, dedup_index_dir, dedup_verdicts_dir,
        extracted_tables_dir, pages_corpus_dir, snapshot_decisions_dir)
    corpus = pages_corpus_dir(sf_dir)
    spark.read.parquet(os.path.join(corpus, "pages.parquet")).count()
    extracted_tables_dir(spark, sf_dir)
    dedup_decisions_dir(spark, sf_dir)
    dedup_index_dir(spark, sf_dir)
    dedup_verdicts_dir(spark, sf_dir)
    snapshot_decisions_dir(spark, sf_dir)
