"""Chunking stage: docs → chunks (Arrow-batched, shuffle-free).

Wraps the deterministic chunker ``extractor.chunking.chunk_document``
(W1-W6 semantics — budget 512, window 8192/overlap 256, single-sentence
merge, span offsets) in mapInArrow. One input row (a whole document)
expands to N chunk rows inside the same task — order-dependent folds stay
within a doc, docs are never split across tasks (SURVEY §7 hard part 2).

Replaces: lora_chunking_container/app/lora_chunking_api.py:270-403
(the per-document semantic_chunking + merge + window loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..extractor.chunking import chunk_document
from .batches import map_rows

CHUNKS_SCHEMA = (
    "doc_id long, url string, warc_ts timestamp, chunk_id string, "
    "chunk_order int, content string, lang string, span_start long, "
    "span_end long, n_tokens int, n_sentences int"
)


def chunk_rows(doc_id: int, text: str | None) -> list[dict]:
    """One document's chunks, with the chunk-level CHUNKS_SCHEMA columns
    (chunk_id … n_sentences); the doc-level ones come from the doc row.
    Empty-text docs produce no chunks (F12 guard)."""
    if not text:
        return []
    rows = chunk_document(str(doc_id), text)
    for c in rows:
        del c["doc_id"]     # the chunker's str id; the doc row's is a long
    return rows


def _doc_chunks(doc_id, url, warc_ts, text, lang) -> list[dict]:
    return [{"doc_id": doc_id, "url": url, "warc_ts": warc_ts, "lang": lang,
             **c} for c in chunk_rows(doc_id, text)]


def chunk_docs(docs: DataFrame) -> DataFrame:
    """docs → chunks; empty-text docs produce no chunks (F12 guard)."""
    return map_rows(docs.select("doc_id", "url", "warc_ts", "text", "lang"),
                    CHUNKS_SCHEMA, lambda: _doc_chunks)


__all__ = ["chunk_docs", "chunk_rows", "CHUNKS_SCHEMA"]
