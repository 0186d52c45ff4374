"""NER + entity-linking stage: chunks → mentions + edges.

The gazetteers are small dimension tables (≪ corpus): they are read once
on the driver (pyarrow, no Spark job) and shipped to executors as a
**broadcast variable** — the Spark analogue of the reference's
per-entity-name network round-trip to Weaviate
(apertus_ner_chunk.py:134-232, J1). The trie index is built lazily once
per executor (module-level cache keyed by broadcast id — the "model
singleton per process" pattern of lora_chunking_api.py:71-76, without
models).

Two outputs:
- mentions: every gazetteer hit with char span (U4 replacement)
- edges:    linked entities after fuzzy/date/url/role filters
            (F5-F7, F11, J5-replacement), shaped after the SPARQL inserts
            at apertus_ner_chunk.py:328-389 (K3)

Language routing (F8) happens inside the UDF via the per-chunk lang column —
no driver-side split, exactly one pass over the data.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..extractor.ner import link_mentions

MENTIONS_SCHEMA = (
    "doc_id long, chunk_id string, mention string, entity_type string, "
    "span_start long, span_end long, lang string"
)

EDGES_SCHEMA = (
    "doc_id long, url string, chunk_id string, subject string, "
    "predicate string, object string, mention string, entity_type string, "
    "fuzzy_score int, span_start long, span_end long"
)
MENTIONS_COLUMNS = [f.split()[0] for f in MENTIONS_SCHEMA.split(", ")]
EDGES_COLUMNS = [f.split()[0] for f in EDGES_SCHEMA.split(", ")]

_INDEX_CACHE: dict = {}

# linking decisions are pure in (mention, entity_type) given an index, so
# the candidate memo lives for the WORKER lifetime next to the trie
# singleton instead of per task: with 32 input splits a per-task memo
# re-scores the corpus's distinct mentions once per task (Zipfian heads
# repeat in every split), which multiplied the fuzzy work ~16x at sf0.1.
# Cleared together with the index when the gazetteer broadcast changes;
# size-capped as a leak guard for unbounded production vocabularies.
_MEMO_MAX_ENTRIES = 1_000_000


def _get_index_and_memo(bc):
    # key on the uuid token shipped INSIDE the broadcast value: id(bc) can
    # be reused by a different broadcast after GC in a long-lived python
    # worker, which would serve a stale trie built from other gazetteers
    key, persons, places, orgs = bc.value
    entry = _INDEX_CACHE.get(key)
    if entry is None:
        from ..extractor.ner import GazetteerIndex
        entry = (GazetteerIndex(persons, places, orgs), {})
        _INDEX_CACHE.clear()
        _INDEX_CACHE[key] = entry
    idx, memo = entry
    if len(memo) > _MEMO_MAX_ENTRIES:
        memo.clear()
    return idx, memo


def load_gazetteers(spark: SparkSession, persons_path: str,
                    places_path: str, orgs_path: str):
    """Read the gazetteer parquet on the driver with pyarrow (small: no
    Spark job), broadcast.

    The broadcast tuple carries a fresh uuid token as a stable cache
    identity for the per-worker trie singleton (see
    _get_index_and_memo)."""
    import uuid

    import pyarrow.parquet as pq
    persons, places, orgs = (pq.read_table(p).to_pylist()
                             for p in (persons_path, places_path, orgs_path))
    return spark.sparkContext.broadcast(
        (uuid.uuid4().hex, persons, places, orgs))


def doc_date(warc_ts):
    """The crawl date the person-date filter checks (None if unknown)."""
    if warc_ts is None or pd.isna(warc_ts):
        return None
    return warc_ts.date()


def mention_rows(found: list[dict], chunk_id: str) -> list[dict]:
    """One chunk's scanned mentions as chunk-level MENTIONS_SCHEMA rows
    (the doc-level doc_id and lang come from the doc row)."""
    return [{"chunk_id": chunk_id, "mention": m["mention"],
             "entity_type": m["entity_type"],
             "span_start": m["span_start"], "span_end": m["span_end"]}
            for m in found]


def edge_rows(found: list[dict], idx, memo: dict, chunk_id: str,
              content: str, date) -> list[dict]:
    """One chunk's linked mentions as chunk-level EDGES_SCHEMA rows (the
    doc-level doc_id and url come from the doc row). ``found`` is
    ``idx.scan(content)``; ``memo`` is the worker-lifetime candidate memo
    (see _get_index_and_memo): mention frequency is Zipfian, so most link
    decisions repeat, and the memo turns O(chunks × fuzz) into
    O(distinct mentions × fuzz) — per WORKER, not per task."""
    return [{"chunk_id": chunk_id, "subject": chunk_id,
             "predicate": e["predicate"], "object": e["matched_url"],
             "mention": e["mention"], "entity_type": e["entity_type"],
             "fuzzy_score": e["fuzzy_score"],
             "span_start": e["span_start"], "span_end": e["span_end"]}
            for e in link_mentions(found, idx, date, content, memo=memo)]


def extract_mentions(chunks: DataFrame, gaz_bc) -> DataFrame:
    def scan_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx, _ = _get_index_and_memo(gaz_bc)
        for pdf in batches:
            rows = []
            for doc_id, chunk_id, content, lang in zip(
                    pdf["doc_id"], pdf["chunk_id"], pdf["content"],
                    pdf["lang"]):
                for m in mention_rows(idx.scan(content), chunk_id):
                    rows.append({"doc_id": doc_id, "lang": lang, **m})
            yield pd.DataFrame(rows, columns=MENTIONS_COLUMNS)

    return (chunks.select("doc_id", "chunk_id", "content", "lang")
            .mapInPandas(scan_batches, schema=MENTIONS_SCHEMA))


def link_entities(chunks: DataFrame, gaz_bc) -> DataFrame:
    """chunks → edges, one Arrow pass (scan + link fused, no shuffle)."""
    def link_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx, memo = _get_index_and_memo(gaz_bc)
        for pdf in batches:
            rows = []
            for doc_id, url, chunk_id, content, warc_ts in zip(
                    pdf["doc_id"], pdf["url"], pdf["chunk_id"],
                    pdf["content"], pdf["warc_ts"]):
                for e in edge_rows(idx.scan(content), idx, memo, chunk_id,
                                   content, doc_date(warc_ts)):
                    rows.append({"doc_id": doc_id, "url": url, **e})
            yield pd.DataFrame(rows, columns=EDGES_COLUMNS)

    return (chunks.select("doc_id", "url", "chunk_id", "content", "warc_ts")
            .mapInPandas(link_batches, schema=EDGES_SCHEMA))


__all__ = ["load_gazetteers", "extract_mentions", "link_entities",
           "doc_date", "mention_rows", "edge_rows",
           "MENTIONS_SCHEMA", "EDGES_SCHEMA", "MENTIONS_COLUMNS",
           "EDGES_COLUMNS"]
