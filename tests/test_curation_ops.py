"""Planted-data behavior tests for the round-4 curation operators —
oracle tests pin cross-engine equality; these pin the SEMANTICS the
operators exist for (boilerplate dies, clones are flagged, mixing hits
its budget) on corpora constructed to exercise them.
"""

from ocr_processing_pipeline_spark.plans.queries import QUERIES


def _docs(spark, tmp_path, rows):
    sf = tmp_path / "sf"
    sf.mkdir()
    df = spark.createDataFrame(
        [(i, t, "de", s, len(t)) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, "
        "n_chars int")
    df.coalesce(1).write.parquet(str(sf / "documents.parquet"))
    return str(sf)


def test_repeated_ngram_flags_exact_clones(spark, tmp_path):
    body_a = " ".join(f"alpha{i}" for i in range(40))
    body_b = " ".join(f"beta{i}" for i in range(40))
    sf = _docs(spark, tmp_path,
               [(body_a, "s1"), (body_a, "s1"),      # exact clone pair
                (body_b, "s2")])                      # unique doc
    out = {r.doc_id: r for r in
           QUERIES["repeated_ngram_coverage"].fn(spark, sf).collect()}
    assert out[0].shared_frac == 1.0 and out[1].shared_frac == 1.0
    assert out[2].shared_frac == 0.0
    assert out[0].n_windows == 40 - 14      # L - w + 1 windows


def test_line_dedup_drops_only_the_common_line(spark, tmp_path):
    # 7 docs (> the df cap of 5) share a footer line; each has a unique
    # body line. NOTE: the registered query APPENDS a per-source footer
    # itself, so give every doc a distinct source to keep that planted
    # footer under the cap, and plant OUR shared line in the body.
    shared = "cookie banner accept all tracking terms"
    rows = [(f"unique body line number {i} with words. {shared}",
             f"s{i}") for i in range(7)]
    sf = _docs(spark, tmp_path, rows)
    out = {r.doc_id: r for r in
           QUERIES["line_dedup_across_docs"].fn(spark, sf).collect()}
    for i in range(7):
        r = out[i]
        # 3 lines per doc (body, planted shared, query's own footer);
        # exactly the shared one dies
        assert r.n_lines == 3 and r.n_kept == 2
        assert shared not in r.clean_text
        assert f"unique body line number {i}" in r.clean_text


def test_corpus_mixture_hits_token_budget(spark, tmp_path):
    # big source: 40 docs x 20 tokens; small source: 5 docs x 20 tokens.
    rows = ([(" ".join(f"w{i}x{j}" for j in range(20)), "big")
             for i in range(40)]
            + [(" ".join(f"v{i}y{j}" for j in range(20)), "small")
               for i in range(5)])
    sf = _docs(spark, tmp_path, rows)
    out = QUERIES["corpus_mixture_sample"].fn(spark, sf).toPandas()
    kept = out.groupby("source")["n_tokens"].sum()
    # the smallest source survives whole; the big one is cut to ~its size
    assert kept["small"] == 100
    assert kept["big"] <= 300          # ~100 target, doc granularity slack
    # deterministic: a rerun selects the identical doc set
    out2 = QUERIES["corpus_mixture_sample"].fn(spark, sf).toPandas()
    assert sorted(out.doc_id) == sorted(out2.doc_id)


def test_incremental_dedup_planted_cross_snapshot(spark):
    """Planted snapshot-N vs snapshot-N+1: an exact clone, a near-dup
    (one word changed), and a fresh doc must come back as
    exact/near/unique with canonical = the EXISTING doc's key."""
    from ocr_processing_pipeline_spark.operators.dedup import (
        incremental_dedup)
    body = " ".join(f"tok{i}" for i in range(30))
    near_body = body.replace("tok7", "changed")
    fresh = " ".join(f"other{i}" for i in range(30))
    existing = spark.createDataFrame(
        [(100, body), (101, fresh.replace("other", "elder"))],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(200, body),        # exact clone of 100
         (201, near_body),   # near-dup of 100 (29/31 shared 3-grams)
         (202, fresh)],      # genuinely new
        "doc_id long, text string")
    out = {r.key: r for r in
           incremental_dedup(new, existing, "text", "doc_id",
                             num_hashes=4, band_size=2).collect()}
    assert len(out) == 3
    assert (out[200].match_kind, out[200].canonical) == ("exact", 100)
    assert (out[201].match_kind, out[201].canonical) == ("near", 100)
    assert (out[202].match_kind, out[202].canonical) == ("unique", 202)
    # a doc's verdict depends only on (doc, existing corpus), never on the
    # other new docs: without the near-dup, the rest decide as before
    rest = incremental_dedup(new.filter(new.doc_id != 201), existing,
                             "text", "doc_id", num_hashes=4,
                             band_size=2).collect()
    assert sorted(rest) == [out[200], out[202]]


def test_incremental_dedup_precomputed_index_identical(spark):
    """The materialized-index path (pass fingerprints + band index) must
    decide identically to deriving both from the existing corpus."""
    from ocr_processing_pipeline_spark.operators.dedup import (
        band_keys, fingerprint, incremental_dedup, minhash_signatures,
        shingles)
    from pyspark.sql import functions as F
    body = " ".join(f"w{i}" for i in range(25))
    existing = spark.createDataFrame(
        [(1, body), (2, body.replace("w3", "x"))],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, body), (11, "completely different words here today")],
        "doc_id long, text string")
    fps = existing.select(F.col("doc_id").alias("key"),
                          fingerprint(F.col("text")).alias("fp"))
    idx = band_keys(minhash_signatures(
        shingles(existing, "text", "doc_id"), 4), 4, 2, 10000)
    live = sorted(incremental_dedup(
        new, existing, "text", "doc_id",
        num_hashes=4, band_size=2).collect())
    mat = sorted(incremental_dedup(
        new, existing, "text", "doc_id", num_hashes=4, band_size=2,
        existing_fingerprints=fps, existing_band_index=idx).collect())
    assert live == mat


def test_resolve_canonicals_chains_to_snapshot_root(spark):
    """A new doc matching existing doc 2 whose own canonical is 1 must
    resolve to 1 — per-snapshot canonical lineages must not fragment."""
    from ocr_processing_pipeline_spark.operators.dedup import (
        resolve_canonicals)
    verdicts = spark.createDataFrame(
        [(200, 2, "near"),      # matched a non-canonical existing doc
         (201, 1, "exact"),     # matched the root directly
         (202, 202, "unique")],
        "key long, canonical long, match_kind string")
    decisions = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5)],
        "doc_id long, canonical_id long")
    out = {r.key: (r.canonical, r.match_kind)
           for r in resolve_canonicals(verdicts, decisions).collect()}
    assert out == {200: (1, "near"), 201: (1, "exact"),
                   202: (202, "unique")}


def test_cross_snapshot_composition_end_to_end(spark):
    """The full snapshot-N+1 story composed from the real operators:
    snapshot-N decisions (connected components over near-dup pairs) +
    incremental verdicts for snapshot N+1 + resolve_canonicals — a new
    doc matching a NON-canonical member of an existing cluster must
    land on the cluster's root."""
    from ocr_processing_pipeline_spark.operators.dedup import (
        connected_components, incremental_dedup, minhash_lsh_dedup,
        resolve_canonicals)
    from pyspark.sql import functions as F
    body = " ".join(f"w{i}" for i in range(30))
    drift1 = body.replace("w3", "x")         # near dup of body
    existing = spark.createDataFrame(
        [(1, body), (2, drift1),             # cluster {1,2}, root 1
         (5, " ".join(f"q{i}" for i in range(30)))],
        "doc_id long, text string")
    # snapshot-N decisions from the real within-corpus chain
    pairs = minhash_lsh_dedup(existing, "text", "doc_id", n=3,
                              min_jaccard=0.5, num_hashes=4, band_size=2)
    decisions = (connected_components(pairs)
                 .select(F.col("key").alias("doc_id"),
                         F.col("component").alias("canonical_id")))
    assert {(r.doc_id, r.canonical_id) for r in decisions.collect()} \
        == {(1, 1), (2, 1)}
    # snapshot N+1: a re-crawl of doc 2 (the NON-canonical member)
    new = spark.createDataFrame(
        [(10, drift1),                       # exact dup of 2 -> root 1
         (11, " ".join(f"z{i}" for i in range(30)))],
        "doc_id long, text string")
    verdicts = incremental_dedup(new, existing, "text", "doc_id",
                                 num_hashes=4, band_size=2)
    resolved = {r.key: (r.canonical, r.match_kind)
                for r in resolve_canonicals(verdicts,
                                            decisions).collect()}
    assert resolved[10] == (1, "exact")      # chained 2 -> 1
    assert resolved[11] == (11, "unique")


def test_snapshot_admission_cross_beats_new_new_and_chains_to_root(spark):
    """VERDICT r5 #1's planted case: a new doc that is simultaneously a
    new∪new dup AND a near-match of the existing corpus must be decided
    by the CROSS phase (match_kind 'near', not 'exact_new'), and its
    canonical must chain through the decisions table to the existing
    snapshot's ROOT — plus one planted doc per remaining verdict kind."""
    from ocr_processing_pipeline_spark.operators.dedup import (
        connected_components, incremental_dedup, minhash_lsh_dedup,
        snapshot_admission)
    from pyspark.sql import functions as F
    body = " ".join(f"w{i}" for i in range(20))
    drift1 = body.replace("w3", "x")          # existing near-dup of body
    drift2 = drift1.replace("w15", "y")       # near of drift1 (J=15/21)
    existing = spark.createDataFrame(
        [(1, body), (2, drift1),              # cluster {1,2}, root 1
         (5, " ".join(f"q{i}" for i in range(20)))],
        "doc_id long, text string")
    pairs = minhash_lsh_dedup(existing, "text", "doc_id", n=3,
                              min_jaccard=0.5, num_hashes=4, band_size=2)
    decisions = (connected_components(pairs)
                 .select(F.col("key").alias("doc_id"),
                         F.col("component").alias("canonical_id")))
    fresh_a = " ".join(f"a{i}" for i in range(20))
    fresh_b = " ".join(f"b{i}" for i in range(20))
    new = spark.createDataFrame(
        [(10, drift2),                        # near of existing 2 AND...
         (11, drift2),                        # ...exact new∪new dup of 10
         (12, fresh_a), (13, fresh_a),        # unique + exact_new pair
         (14, fresh_b),
         (15, fresh_b.replace("b7", "c"))],   # unique + near_new pair
        "doc_id long, text string")
    verdicts = incremental_dedup(new, existing, "text", "doc_id",
                                 num_hashes=4, band_size=2)
    out = {r.key: (r.canonical, r.match_kind)
           for r in snapshot_admission(
               new, verdicts, decisions, "text", "doc_id",
               n=3, min_jaccard=0.5, num_hashes=4,
               band_size=2).collect()}
    assert len(out) == 6
    # cross wins over new∪new; canonical = snapshot-N ROOT (1), never
    # the matched member (2) nor a fresh new-snapshot id (10)
    assert out[10] == (1, "near")
    assert out[11] == (1, "near")
    assert out[12] == (12, "unique")
    assert out[13] == (12, "exact_new")
    assert out[14] == (14, "unique")
    assert out[15] == (14, "near_new")


def test_snapshot_admission_exact_new_chains_through_near_new(spark):
    """Dangling-canonical case (r6 code review): cross-unique docs
    C < A < B where A and B are byte-identical AND A is a near-dup of C.
    exact_new collapses B -> A, then A itself is demoted to near_new
    (A -> C). B's canonical must chain to the ADMITTED root C, not
    point at the non-admitted A."""
    from ocr_processing_pipeline_spark.operators.dedup import (
        snapshot_admission)
    base = " ".join(f"m{i}" for i in range(20))
    near = base.replace("m3", "z")            # near-dup of base (J>=0.5)
    existing = spark.createDataFrame(
        [(1, " ".join(f"e{i}" for i in range(20)))],
        "doc_id long, text string")
    # every new doc is cross-unique (no existing-corpus match)
    new = spark.createDataFrame(
        [(20, base),                          # C: cluster root, admitted
         (21, near), (22, near)],             # A,B byte-identical; A~C
        "doc_id long, text string")
    verdicts = spark.createDataFrame(
        [(20, 20, "unique"), (21, 21, "unique"), (22, 22, "unique")],
        "key long, canonical long, match_kind string")
    decisions = spark.createDataFrame(
        [], "doc_id long, canonical_id long")
    out = {r.key: (r.canonical, r.match_kind)
           for r in snapshot_admission(
               new, verdicts, decisions, "text", "doc_id",
               n=3, min_jaccard=0.5, num_hashes=4,
               band_size=2).collect()}
    assert out[20] == (20, "unique")
    assert out[21] == (20, "near_new")        # A demoted to near_new
    assert out[22] == (20, "exact_new"), \
        "exact_new canonical must chain through near_new to the root"


def test_admission_canonicals_point_at_admitted_or_existing(spark):
    """The invariant the r6 chaining fixes establish: over the real
    snapshot_admission_full output, every rejected doc's canonical is
    either (a) a doc ADMITTED in this snapshot (match_kind 'unique' —
    exact_new/near_new cases) or (b) an existing-half doc id (cross
    'exact'/'near' cases, chained to the snapshot-N root). No canonical
    may dangle on another rejected new doc."""
    import hashlib
    from ocr_processing_pipeline_spark.plans.queries import (
        _RECRAWL_KEY_OFFSET)
    rows = QUERIES["snapshot_admission_full"].fn(
        spark, "/root/testdata/sf0.001").collect()
    kind = {r.doc_id: r.match_kind for r in rows}

    def existing_half(doc_id):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        return h % 2 == 0

    for r in rows:
        if r.match_kind == "unique":
            assert r.canonical_id == r.doc_id
        elif r.match_kind in ("exact_new", "near_new"):
            assert kind.get(r.canonical_id) == "unique", \
                f"{r.doc_id} -> {r.canonical_id} dangles on a " \
                f"{kind.get(r.canonical_id)} row"
        else:  # cross 'exact'/'near': snapshot-N root, existing half
            assert r.canonical_id < _RECRAWL_KEY_OFFSET
            assert existing_half(r.canonical_id), \
                f"cross canonical {r.canonical_id} is not an " \
                "existing-half doc"
