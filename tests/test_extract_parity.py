"""North-rule invariant: Spark extraction is byte-identical to the oracle.

Runs the Spark mapInArrow stage over the synthetic corpus and the pure
single-threaded oracle over the same rows; asserts byte-identical extracted
``text`` per url (100% match rate, BASELINE.md target), identical failure
codes, spans, and token counts — and that the result does not depend on
partition layout.
"""

from ocr_processing_pipeline_spark.extractor.core import extract_page
from ocr_processing_pipeline_spark.extractor.textproc import token_count
from ocr_processing_pipeline_spark.pipeline.extract import extract_docs


def _oracle(rows):
    out = {}
    for r in rows:
        res = extract_page(r["html"], r["text"])
        out[r["url"]] = res
    return out


def test_byte_identical_text_per_url(spark, corpus_dir, corpus_rows):
    rows, _ = corpus_rows
    oracle = _oracle(rows)

    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    got = {r["url"]: r for r in extract_docs(pages).collect()}

    assert set(got) == set(oracle)
    mismatches = [u for u in oracle if got[u]["text"] != oracle[u].text]
    assert mismatches == [], (
        f"{len(mismatches)} urls differ; first: {mismatches[:3]}")
    for u, res in oracle.items():
        g = got[u]
        assert g["failure_code"] == res.failure_code, u
        assert g["content_kind"] == res.content_kind, u
        assert [(s["start"], s["end"]) for s in g["spans"]] == res.spans, u
        assert g["token_length"] == token_count(res.text), u


def test_partition_layout_invariance(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    a = sorted((r["url"], r["text"])
               for r in extract_docs(pages.repartition(1)).collect())
    b = sorted((r["url"], r["text"])
               for r in extract_docs(pages.repartition(16)).collect())
    assert a == b


def test_failure_codes_present(spark, corpus_dir):
    """The corpus plants malformed rows; codes must surface as columns."""
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    docs = extract_docs(pages)
    codes = {r["failure_code"] for r in
             docs.select("failure_code").distinct().collect()}
    assert "" in codes           # OK rows
    assert "ENCODING_ERROR" in codes
    kinds = {r["content_kind"] for r in
             docs.select("content_kind").distinct().collect()}
    assert {"html", "pdf"} <= kinds
