"""Extraction stage: pages → docs (mapInArrow over Arrow batches).

The single vectorized UDF stage of the north rule: batched HTML boilerplate
stripping + PDF/layout parsing. The UDF body is the shared Arrow row
mapper (batches.map_rows) calling the deterministic oracle
``extractor.core.extract_page`` — identical semantics to the
single-threaded pytest oracle by construction.

Plan shape (checked by tests/test_plans.py): one shuffle-free stage —
parquet scan (column-pruned) → MapInArrow → project.
``doc_id = xxhash64(url)`` is computed JVM-side (codegen), not in Python.

Replaces: the reference's per-document HTTP fetch + sequential /process
handler (Data/OCR_data_crawler.py:58-80;
lora_chunking_container/app/lora_chunking_api.py:243-269).
"""

from __future__ import annotations

from time import perf_counter_ns

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extractor.core import FailureCode, extract_page
from ..extractor.textproc import detect_lang_tokens, tokenize
from .batches import map_rows

# Giant-page quarantine (SCALE.md item 2): one outlier page bigger than
# this never enters an Arrow batch — the bytes are nulled out JVM-side
# and the row is emitted with failure_code=OVERSIZED_INPUT, so a single
# pathological crawl record can't blow a python worker at 100×. The
# checkpoint rows' failure histogram records the quarantine count.
DEFAULT_MAX_PAGE_BYTES = 100 * 1024 * 1024

# Spans are emitted as arrays of structs so downstream stages and the parity
# suite can check monotone, in-bounds offsets (FIXTURES.md §3 invariants).
DOCS_UDF_SCHEMA = (
    "url string, warc_ts timestamp, lang string, detected_lang string, "
    "text string, token_length int, failure_code string, "
    "content_kind string, n_blocks_total int, n_blocks_kept int, "
    "extract_us long, "
    "spans array<struct<start:long,end:long>>"
)


# the pages columns extraction reads
PAGE_COLUMNS = ("url", "warc_ts", "html", "text", "lang")

# the docs table's columns, in order (extract_docs and the fused pass in
# job.run_pipeline both project to this); extract_row computes all but
# the first four
DOC_COLUMNS = (
    "doc_id", "url", "warc_ts", "lang", "detected_lang", "text",
    "token_length", "failure_code", "content_kind",
    "n_blocks_total", "n_blocks_kept", "extract_us", "spans",
)


def extract_row(html, pre_text, oversized: bool) -> dict:
    """One page → its extracted docs columns (the UDF-computed ones).

    ``extract_us`` is the per-doc wall time (µs) — the instrumentation the
    reference got from codecarbon's per-doc tracker
    (lora_chunking_api.py:250, A7); aggregated into the checkpoint/lineage
    rows per bucket."""
    t0 = perf_counter_ns()
    if oversized:
        # bytes were nulled JVM-side; emit the quarantine row
        res = extract_page(None, None)
        res.failure_code = FailureCode.OVERSIZED
        res.content_kind = "quarantined"
    else:
        res = extract_page(
            bytes(html) if html is not None else None, pre_text)
    toks = tokenize(res.text)      # one pass shared by count+langid
    return {
        "detected_lang": detect_lang_tokens(toks),
        "text": res.text,
        "token_length": len(toks),
        "failure_code": res.failure_code,
        "content_kind": res.content_kind,
        "n_blocks_total": res.n_blocks_total,
        "n_blocks_kept": res.n_blocks_kept,
        "spans": [{"start": s, "end": e} for s, e in res.spans],
        "extract_us": (perf_counter_ns() - t0) // 1000,
    }


def _doc_rows(url, warc_ts, html, pre_text, lang, oversized) -> list[dict]:
    """One gated page (gated_columns' order) → its DOCS_UDF_SCHEMA row."""
    return [{"url": url, "warc_ts": warc_ts, "lang": lang,
             **extract_row(html, pre_text, oversized)}]


def gated_columns(max_page_bytes: int | None = DEFAULT_MAX_PAGE_BYTES
                  ) -> list[str]:
    """The pages columns (url, warc_ts, html, text, lang, _oversized) as
    SQL expressions: the five input columns extraction reads, with the
    giant-page gate applied, for a caller to ``selectExpr`` along with any
    columns of its own. SQL text costs one JVM round trip per column where
    a Column expression costs one per function, literal and alias.

    Pages whose html OR pre-text payload exceeds ``max_page_bytes`` are
    quarantined JVM-side (octet_length test in the same projection —
    still one shuffle-free stage): the payloads are replaced by NULL
    before the Arrow transfer and ``_oversized`` is set, so extract_row
    emits failure_code=OVERSIZED_INPUT, empty text. The text column is
    gated too because extract_page's pre_text fallback is a real input
    path — an html-only gate would leave a giant text string a way into
    the Arrow batch. ``max_page_bytes=None`` disables the gate; a value
    <= 0 is rejected (it would quarantine every page).
    """
    if max_page_bytes is None:
        return [*PAGE_COLUMNS, "false AS _oversized"]
    if max_page_bytes <= 0:
        raise ValueError(f"max_page_bytes must be > 0, got {max_page_bytes}"
                         " (pass None to disable the gate)")
    # an int literal, or a bigint one above 2**31 - 1, as F.lit makes
    limit = int(max_page_bytes)
    too_big = (f"coalesce(coalesce(octet_length(html), 0) > {limit} OR "
               f"coalesce(octet_length(text), 0) > {limit}, false)")
    return [
        "url", "warc_ts",
        f"CASE WHEN {too_big} THEN CAST(NULL AS BINARY) ELSE html END "
        "AS html",
        f"CASE WHEN {too_big} THEN CAST(NULL AS STRING) ELSE text END "
        "AS text",
        "lang",
        f"{too_big} AS _oversized"]


def extract_docs(pages: DataFrame,
                 max_page_bytes: int | None = DEFAULT_MAX_PAGE_BYTES
                 ) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → docs table.

    Column pruning: only the five input columns are read; Catalyst pushes
    the projection into the parquet scan. ``max_page_bytes`` is the
    giant-page gate (see gated_columns; None disables it).
    """
    return (map_rows(pages.selectExpr(*gated_columns(max_page_bytes)),
                     DOCS_UDF_SCHEMA, lambda: _doc_rows)
            .withColumn("doc_id", F.xxhash64("url"))
            .select(*DOC_COLUMNS))


__all__ = ["extract_docs", "extract_row", "gated_columns", "PAGE_COLUMNS",
           "DOC_COLUMNS", "DOCS_UDF_SCHEMA"]
