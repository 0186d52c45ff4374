"""Giant-page quarantine: a pathological crawl record must never enter an
Arrow batch (SCALE.md item 2) — the byte gate nulls the payload JVM-side,
the row comes back failure-coded, the checkpoint histogram counts it, and
every other page stays byte-identical."""

import os

import pytest

from ocr_processing_pipeline_spark.extractor.core import (
    FailureCode, extract_page)
from ocr_processing_pipeline_spark.pipeline.extract import extract_docs
from ocr_processing_pipeline_spark.pipeline.job import run_pipeline
from ocr_processing_pipeline_spark.sources.corpus import make_pages

THRESHOLD = 50_000      # normal synthetic pages are ~5 KB


PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def _pages_with_giant(spark):
    rows = make_pages(20)[0]
    giant = dict(rows[0])
    giant["url"] = "https://giant.example/oversized"
    giant["html"] = (b"<html><body><article><p>"
                     + b"giant page word soup " * (THRESHOLD // 7)
                     + b"</p></article></body></html>")
    data = [{k: r[k] for k in
             ("url", "warc_ts", "html", "text", "lang")}
            for r in rows + [giant]]
    return spark.createDataFrame(data, PAGES_SCHEMA), rows


def test_oversized_page_quarantined(spark):
    pages, rows = _pages_with_giant(spark)
    docs = extract_docs(pages, max_page_bytes=THRESHOLD).collect()
    by_url = {r.url: r for r in docs}
    g = by_url["https://giant.example/oversized"]
    assert g.failure_code == FailureCode.OVERSIZED
    assert g.content_kind == "quarantined"
    assert g.text == "" and g.spans == []
    # every normal page is untouched by the gate: byte-identical to the
    # direct oracle call
    for r in rows:
        expect = extract_page(r["html"], r.get("text")).text
        assert by_url[r["url"]].text == expect
    assert sum(r.failure_code == FailureCode.OVERSIZED for r in docs) == 1


def test_run_pipeline_quarantines_oversized(spark, corpus_dir, tmp_path):
    """The gate through run_pipeline: the giant page lands in docs as one
    OVERSIZED_INPUT row, and the checkpoint histogram counts it."""
    pages, _ = _pages_with_giant(spark)
    pages_path = str(tmp_path / "pages.parquet")
    pages.write.parquet(pages_path)
    out = str(tmp_path / "out")
    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=4,
                 max_page_bytes=THRESHOLD)
    docs = spark.read.parquet(os.path.join(out, "docs")).collect()
    oversized = [r.url for r in docs
                 if r.failure_code == FailureCode.OVERSIZED]
    assert oversized == ["https://giant.example/oversized"]
    ckpt = spark.read.parquet(os.path.join(out, "checkpoint")).collect()
    assert sum(r.failure_counts.get(FailureCode.OVERSIZED, 0)
               for r in ckpt) == 1
    assert sum(r.row_count for r in ckpt) == 21


@pytest.mark.parametrize("limit", [0, -1])
def test_gate_rejects_non_positive_threshold(spark, limit):
    """Only None disables the gate: 0 or a negative threshold raises
    instead of quarantining every page."""
    pages, _ = _pages_with_giant(spark)
    with pytest.raises(ValueError, match="pass None to disable"):
        extract_docs(pages, max_page_bytes=limit)


def test_gate_disabled_extracts_everything(spark):
    pages, _ = _pages_with_giant(spark)
    docs = extract_docs(pages, max_page_bytes=None).collect()
    assert all(r.failure_code != FailureCode.OVERSIZED for r in docs)
    g = [r for r in docs if r.url == "https://giant.example/oversized"][0]
    assert "giant page word soup" in g.text


def test_gate_limit_above_int_range(spark):
    """A limit above 2**31 - 1 (a bigint literal in the gate's SQL)
    quarantines nothing: the docs equal those with the gate off."""
    pages, _ = _pages_with_giant(spark)

    def docs(limit):
        return sorted((r.url, r.text, r.failure_code) for r in
                      extract_docs(pages, max_page_bytes=limit).collect())

    gated = docs(3 << 30)
    assert all(code != FailureCode.OVERSIZED for _, _, code in gated)
    assert gated == docs(None)


def test_oversized_pre_text_quarantined(spark):
    """The gate must cover the pre-text fallback path too: a giant text
    payload with no html is exactly as dangerous to the Arrow batch."""
    rows = make_pages(5)[0]
    giant = dict(rows[0])
    giant["url"] = "https://giant.example/pretext"
    giant["html"] = None
    giant["text"] = "word soup " * (THRESHOLD // 5)
    data = [{k: r[k] for k in ("url", "warc_ts", "html", "text", "lang")}
            for r in rows + [giant]]
    pages = spark.createDataFrame(data, PAGES_SCHEMA)
    docs = {r.url: r for r in
            extract_docs(pages, max_page_bytes=THRESHOLD).collect()}
    g = docs["https://giant.example/pretext"]
    assert g.failure_code == FailureCode.OVERSIZED
    assert g.text == ""


def test_cli_rejects_negative_max_page_bytes(capsys):
    """A typo'd negative threshold must error, not silently disable the
    gate (only the documented 0 sentinel disables it)."""
    import pytest as _pytest

    from ocr_processing_pipeline_spark.pipeline.job import main
    with _pytest.raises(SystemExit):
        main(["--pages", "x", "--gazetteers-dir", "y", "--out", "z",
              "--max-page-bytes", "-1"])
    err = capsys.readouterr().err
    assert "must be >= 0" in err
