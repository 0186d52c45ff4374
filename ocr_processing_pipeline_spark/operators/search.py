"""Keyword search: BM25 / hybrid / layered top-k over a text corpus.

The deterministic half of the reference's search entry points
(Query/search.py:46-70 hybrid = BM25 + vector, alpha 0.25;
Query/layered_search.py:74-104 coarse-to-fine). The vector half runs over
an embedding column via operators/similarity.py; ``hybrid_topk`` fuses
both with Weaviate's relative-score fusion. No model inference (north
rule): query and corpus meet on exact token match + statistical weighting.

Scale design (the 100 TB contract):
- ONE pass over the corpus: per-doc length comes from ``size()`` of the
  token array — never a corpus-wide token explode;
- query-term hits are filtered INSIDE the token array (``F.filter`` +
  ``isin``) BEFORE the explode, so only matching tokens ever become rows;
- corpus stats (n_docs, avg_len) are one aggregation cross-joined back as
  a broadcast single row — zero driver-side actions (`.count()`/
  `.first()`) in the plan;
- term document-frequencies are a tiny (≤ |query|) broadcast.

BM25 parameters k1=1.2, b=0.75 (Robertson et al., the standard defaults);
scores are rounded to ``SCORE_DECIMALS`` places so ties and top-k order
are stable across runs and against the DuckDB oracle.

Shared projections here are localCheckpointed per query — the right
shape for one-shot batch jobs, with a GC-lifetime and lineage-truncation
trade for long-lived/serving drivers: see docs/serving.md for the full
rule (drop refs / gc.collect in a long JVM; a serving tier materializes
the shared projection to a table and queries read that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BM25_K1 = 1.2
BM25_B = 0.75
SCORE_DECIMALS = 4


def _tok_array(text_col):
    """Nonempty whitespace tokens of normalized text, as an array column."""
    return F.filter(
        F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                                 r"\s+", " "), " "),
        lambda t: F.length(t) > 0)


def _bm25_weight(n_col: str, len_col: str):
    """Per-(doc, term) BM25 weight: idf × saturated tf. Reads ``df``,
    ``tf`` and ``avg_len`` plus the given corpus-size and doc-length
    columns; doc-level and chunk-level search differ only in those two."""
    idf = F.log(
        (F.col(n_col) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    return (idf * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1
               * (1 - BM25_B + BM25_B * F.col(len_col) / F.col("avg_len"))))


def bm25_scores(df: DataFrame, text_col: str, key_col: str,
                query_terms: list[str]) -> DataFrame:
    """(key, bm25) for every doc containing ≥1 query term. Single corpus
    pass; see module docstring for the scale contract.

    The narrow (key, doc_len, hits) projection is localCheckpointed
    (lazy): the corpus stats leg, the tf leg, and the df leg all derive
    from it, and without the checkpoint Catalyst gave each its own
    FileScan — 3 full corpus reads for one query. Materializing the
    projection (a few bytes per doc — no text) makes the physical plan
    scan the corpus exactly ONCE; tests/test_plans.py counts the scans.
    """
    terms = [t.lower() for t in query_terms]
    toks = _tok_array(text_col)
    base = df.select(F.col(key_col).alias("key"),
                     F.size(toks).alias("doc_len"),
                     F.filter(toks, lambda t: t.isin(terms)).alias("hits"))
    base = base.localCheckpoint(eager=False)
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.when(F.col("doc_len") > 0, F.col("doc_len")))
        .alias("avg_len"))
    tf = (base.filter(F.size("hits") > 0)
          .select("key", "doc_len", F.explode("hits").alias("term"))
          .groupBy("key", "term")
          .agg(F.count(F.lit(1)).alias("tf"),
               F.max("doc_len").alias("doc_len")))
    dfc = tf.groupBy("term").agg(F.countDistinct("key").alias("df"))
    return (tf.join(F.broadcast(dfc), "term")
            .crossJoin(F.broadcast(stats))
            .withColumn("w", _bm25_weight("n_docs", "doc_len"))
            .groupBy("key")
            .agg(F.round(F.sum("w"), SCORE_DECIMALS).alias("bm25")))


def bm25_topk(df: DataFrame, text_col: str, key_col: str,
              query_terms: list[str], k: int = 10) -> DataFrame:
    """Exact BM25 top-k for one query; deterministic tie-break on key."""
    return (bm25_scores(df, text_col, key_col, query_terms)
            .orderBy(F.desc("bm25"), F.asc("key"))
            .limit(k))


def _minmax_norm(leg: DataFrame, score_col: str, out_col: str) -> DataFrame:
    """(key, out_col): (s - min)/(max - min) over the whole (tiny,
    post-limit) leg; degenerate legs (max == min) normalize to 1.0 like
    Weaviate. agg + broadcast cross-join rather than an unpartitioned
    window: semantically identical on these ≤window-row legs, but a
    ``Window.partitionBy()`` emits the scary (and fleet-visible)
    ``WindowExec: No Partition Defined`` WARN on every run even though
    the single partition is bounded by construction. Caller must ensure
    ``leg`` is cheap to evaluate twice or checkpointed — the stats agg
    and the projection are two plan legs over it."""
    stats = leg.agg(F.min(score_col).alias("_mn"),
                    F.max(score_col).alias("_mx"))
    normed = F.when(F.col("_mx") == F.col("_mn"), F.lit(1.0)).otherwise(
        (F.col(score_col) - F.col("_mn"))
        / (F.col("_mx") - F.col("_mn"))).alias(out_col)
    return (leg.crossJoin(F.broadcast(stats))
            .select("key", normed))


def hybrid_topk(df: DataFrame, text_col: str, key_col: str,
                vec_col: str, query_terms: list[str], query_vec: list,
                alpha: float = 0.25, k: int = 10) -> DataFrame:
    """Weaviate-style hybrid via **relative-score fusion** (the fusion
    ``collection.query.hybrid(alpha=0.25)`` resolves to — Query/search.py:61):
    each leg retrieves its top window, scores are min-max normalized within
    the leg, fused = alpha·vector + (1-alpha)·keyword; a doc absent from a
    leg contributes 0 for that leg. Both legs are top-k limited first, so
    the fusion join is a few dozen rows regardless of corpus size."""
    from .similarity import VECTOR_DECIMALS, cosine_to
    window = max(k * 5, 50)
    # each leg is ≤window rows but expensive to DERIVE (a corpus pass);
    # checkpoint before _minmax_norm so its stats agg + projection read
    # the materialized rows instead of re-running the pass twice
    bm = (bm25_topk(df, text_col, key_col, query_terms, k=window)
          .localCheckpoint(eager=False))
    vec = (df.select(F.col(key_col).alias("key"),
                     F.round(cosine_to(query_vec, F.col(vec_col)),
                             VECTOR_DECIMALS).alias("cosine"))
           .orderBy(F.desc("cosine"), F.asc("key")).limit(window)
           .localCheckpoint(eager=False))
    bm_n = _minmax_norm(bm, "bm25", "bm_norm")
    v_n = _minmax_norm(vec, "cosine", "v_norm")
    fused = (bm_n.join(v_n, "key", "full_outer")
             .withColumn(
                 "score",
                 F.round(F.lit(alpha) * F.coalesce("v_norm", F.lit(0.0))
                         + F.lit(1 - alpha)
                         * F.coalesce("bm_norm", F.lit(0.0)), 6)))
    return (fused.select("key", "score")
            .orderBy(F.desc("score"), F.asc("key")).limit(k))


def layered_topk(df: DataFrame, text_col: str, key_col: str,
                 query_terms: list[str], doc_k: int = 20, k: int = 10,
                 chunk_tokens: int = 64) -> DataFrame:
    """Coarse-to-fine layered search (Query/layered_search.py:74-104:
    doc-level top-k → Filter.by_property('doc_id').contains_any →
    chunk-level search within the survivors).

    Stage 1: doc-level BM25 top ``doc_k`` — one corpus pass.
    Stage 2: broadcast LEFT SEMI join restricts the corpus to the top docs
    BEFORE any chunk explode (the expensive per-token work only ever
    touches ``doc_k`` documents, not the corpus).
    Stage 3: fixed ``chunk_tokens`` windows over the survivors; chunk-level
    BM25 with stats over the restricted chunk corpus; top ``k`` chunks.

    Returns (doc_id-as-key, chunk_no, score).
    """
    terms = [t.lower() for t in query_terms]
    top_docs = (bm25_topk(df, text_col, key_col, query_terms, k=doc_k)
                .select("key"))
    survivors = df.join(
        F.broadcast(top_docs),
        df[key_col] == top_docs["key"], "left_semi")
    tok = (survivors
           .select(F.col(key_col).alias("key"),
                   F.posexplode(_tok_array(text_col))
                   .alias("pos0", "tok"))
           .withColumn("chunk_no",
                       F.floor(F.col("pos0") / chunk_tokens).cast("int")))
    # the chunk-token projection feeds the length leg AND the term-hit
    # leg; without the checkpoint each re-runs the doc-level top-k +
    # semi-join + explode (r7 plan audit: documents scanned 4x in one
    # query; checkpointed: 1.4-1.6 s -> 1.0-1.2 s, output identical).
    tok = tok.localCheckpoint(eager=False)
    clen = (tok.groupBy("key", "chunk_no")
            .agg(F.count(F.lit(1)).alias("chunk_len")))
    ctf = (tok.filter(F.col("tok").isin(terms))
           .groupBy("key", "chunk_no", F.col("tok").alias("term"))
           .agg(F.count(F.lit(1)).alias("tf")))
    stats = clen.agg(
        F.count(F.lit(1)).cast("double").alias("n_chunks"),
        F.avg("chunk_len").alias("avg_len"))
    cdf = ctf.groupBy("term").agg(
        F.countDistinct("key", "chunk_no").alias("df"))
    return (ctf.join(clen, ["key", "chunk_no"])
            .join(F.broadcast(cdf), "term")
            .crossJoin(F.broadcast(stats))
            .withColumn("w", _bm25_weight("n_chunks", "chunk_len"))
            .groupBy("key", "chunk_no")
            .agg(F.round(F.sum("w"), SCORE_DECIMALS).alias("score"))
            .orderBy(F.desc("score"), F.asc("key"), F.asc("chunk_no"))
            .limit(k))


__all__ = ["bm25_scores", "bm25_topk", "hybrid_topk", "layered_topk",
           "BM25_K1", "BM25_B", "SCORE_DECIMALS"]
