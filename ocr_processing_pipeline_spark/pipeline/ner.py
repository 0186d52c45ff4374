"""NER + entity-linking stage: chunks → mentions + edges.

The gazetteers are small dimension tables (≪ corpus): they are read once
on the driver (pyarrow, no Spark job) and shipped to executors as a
**broadcast variable** — the Spark analogue of the reference's
per-entity-name network round-trip to Weaviate
(apertus_ner_chunk.py:134-232, J1). The broadcast is keyed on a digest of
the gazetteer files' bytes: within one SparkContext the same content
returns the same broadcast, so repeated runs neither re-read nor
re-broadcast it. The trie index is built lazily once per Python worker
(module-level cache keyed by that digest — the "model singleton per
process" pattern of lora_chunking_api.py:71-76, without models) and lives
as long as the worker while the content is unchanged.

Two outputs:
- mentions: every gazetteer hit with char span (U4 replacement)
- edges:    linked entities after fuzzy/date/url/role filters
            (F5-F7, F11, J5-replacement), shaped after the SPARQL inserts
            at apertus_ner_chunk.py:328-389 (K3)

Language routing (F8) happens inside the UDF via the per-chunk lang column —
no driver-side split, exactly one pass over the data.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from ..extractor.ner import link_mentions
from . import lineage
from .batches import map_rows

MENTIONS_SCHEMA = (
    "doc_id long, chunk_id string, mention string, entity_type string, "
    "span_start long, span_end long, lang string"
)

EDGES_SCHEMA = (
    "doc_id long, url string, chunk_id string, subject string, "
    "predicate string, object string, mention string, entity_type string, "
    "fuzzy_score int, span_start long, span_end long"
)

_INDEX_CACHE: dict = {}

# linking decisions are pure in (mention, entity_type) given an index, so
# the candidate memo lives for the WORKER lifetime next to the trie
# singleton instead of per task: with 32 input splits a per-task memo
# re-scores the corpus's distinct mentions once per task (Zipfian heads
# repeat in every split), which multiplied the fuzzy work ~16x at sf0.1.
# Cleared together with the index when the gazetteer content changes;
# size-capped as a leak guard for unbounded production vocabularies.
_MEMO_MAX_ENTRIES = 1_000_000

# driver side: (applicationId, content digest) -> Broadcast, one entry.
# applicationId, not id(sc): a stopped context's id() can be reused by a
# new one at the same address and would serve a dead broadcast.
_BROADCAST: dict = {}


def _get_index_and_memo(bc):
    # key on the content digest shipped INSIDE the broadcast value: the
    # same gazetteers keep their trie and memo for the worker's lifetime
    # across runs, and changed gazetteers (a new digest) clear both.
    # id(bc) would not do: it can be reused by a different broadcast
    # after GC in a long-lived python worker.
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


def gazetteer_digest(persons_path: str, places_path: str,
                     orgs_path: str) -> str:
    """sha256 over the three inputs' bytes, never their paths or mtimes.
    Each input is a path or a URI (lineage.out_filesystem).

    A single file is hashed directly; a directory (Spark-written parquet)
    hashes every file a reader sees under it (lineage.visible_files) in
    sorted relative-path order, each framed by its relative path and
    size. An input with no visible file raises FileNotFoundError."""
    h = hashlib.sha256()
    for path in (persons_path, places_path, orgs_path):
        fs, root = lineage.out_filesystem(path)
        files = sorted(lineage.visible_files(fs, root), key=lambda e: e[0])
        if not files:
            raise FileNotFoundError(f"no gazetteer file at {path}")
        h.update(f"input {len(files)}\0".encode())
        for rel, f in files:
            # a single file is framed as ".", which keeps the digests that
            # existing out dirs recorded
            h.update(f"{rel or '.'}\0{f.size}\0".encode())
            with fs.open_input_stream(f.path) as fh:
                for block in iter(lambda: fh.read(1 << 20), b""):
                    h.update(block)
    return h.hexdigest()


def load_gazetteers(spark: SparkSession, persons_path: str,
                    places_path: str, orgs_path: str):
    """The broadcast ``(digest, persons, places, orgs)`` of the three
    gazetteer parquet inputs, one per content per SparkContext.

    Only the bytes are hashed (gazetteer_digest). If this context already
    broadcast that content, the same Broadcast is returned with no read,
    pickle or broadcast; otherwise the tables are read on the driver with
    pyarrow (small: no Spark job) and broadcast, replacing the cached
    one. The digest is also the worker-side trie key
    (_get_index_and_memo), so changed content is never served stale."""
    import pyarrow.parquet as pq
    digest = gazetteer_digest(persons_path, places_path, orgs_path)
    key = (spark.sparkContext.applicationId, digest)
    bc = _BROADCAST.get(key)
    if bc is None:
        persons, places, orgs = (
            pq.read_table(p).to_pylist()
            for p in (persons_path, places_path, orgs_path))
        bc = spark.sparkContext.broadcast((digest, persons, places, orgs))
        _BROADCAST.clear()
        _BROADCAST[key] = bc
    return bc


def doc_date(warc_ts):
    """The crawl date the person-date filter checks: the date of
    ``warc_ts``, an aware datetime in the session time zone (None if
    unknown)."""
    return None if warc_ts is None else warc_ts.date()


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
    """chunks → mentions: every gazetteer hit (its other keys, such as
    n_tokens, are not MENTIONS_SCHEMA columns and are dropped)."""
    def task_rows():
        idx, _ = _get_index_and_memo(gaz_bc)
        return lambda doc_id, chunk_id, content, lang: [
            {"doc_id": doc_id, "chunk_id": chunk_id, "lang": lang, **m}
            for m in idx.scan(content)]

    return map_rows(chunks.select("doc_id", "chunk_id", "content", "lang"),
                    MENTIONS_SCHEMA, task_rows)


def link_entities(chunks: DataFrame, gaz_bc) -> DataFrame:
    """chunks → edges, one Arrow pass (scan + link fused, no shuffle)."""
    def task_rows():
        idx, memo = _get_index_and_memo(gaz_bc)
        return lambda doc_id, url, chunk_id, content, warc_ts: [
            {"doc_id": doc_id, "url": url, **e}
            for e in edge_rows(idx.scan(content), idx, memo, chunk_id,
                               content, doc_date(warc_ts))]

    return map_rows(
        chunks.select("doc_id", "url", "chunk_id", "content", "warc_ts"),
        EDGES_SCHEMA, task_rows)


__all__ = ["load_gazetteers", "gazetteer_digest", "extract_mentions",
           "link_entities", "doc_date", "edge_rows", "MENTIONS_SCHEMA",
           "EDGES_SCHEMA"]
