"""Operator tests with planted cases: dedup families, ANN, multimodal."""

import pyspark.sql.functions as F
import pytest

from ocr_processing_pipeline_spark.operators.dedup import (
    exact_dedup, jaccard_pairs, lsh_candidate_pairs,
    minhash_lsh_dedup, minhash_signatures, shingles, simhash,
    simhash_candidates)
from ocr_processing_pipeline_spark.operators.similarity import (
    ann_topk, brute_force_topk, label_centroids)


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep dark forest tonight")
    near = base.replace("lazy", "sleepy")          # 1-word edit
    other = ("completely different content about spark shuffles and "
             "partition pruning at terabyte scale with adaptive execution")
    rows = [
        (1, base), (2, base),            # exact dups
        (3, near),                       # near dup of 1/2
        (4, other), (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs_with_dups):
    kept = exact_dedup(docs_with_dups, "text", "doc_id")
    ids = {r.doc_id for r in kept.collect()}
    assert 1 in ids and 2 not in ids          # first-seen wins
    assert {3, 4, 5} <= ids


def test_minhash_lsh_finds_planted_near_dup(docs_with_dups):
    pairs = {(r.key_a, r.key_b): r.jaccard
             for r in minhash_lsh_dedup(docs_with_dups, "text", "doc_id",
                                        n=3, min_jaccard=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0   # exact dup
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.5   # near dup survives LSH
    assert not any(4 in p or 5 in p for p in pairs)


def test_jaccard_exact_values(docs_with_dups):
    sh = shingles(docs_with_dups, "text", "doc_id", n=3)
    pairs = {(r.key_a, r.key_b): r for r in
             jaccard_pairs(sh, min_jaccard=0.01).collect()}
    p13 = pairs[(1, 3)]
    # one word changed in the middle → 3 of the 3-gram shingles differ
    assert p13.n_a == p13.n_b
    assert p13.shared == p13.n_a - 3
    assert abs(p13.jaccard - p13.shared / (2 * p13.n_a - p13.shared)) < 1e-9


def test_simhash_near_dup_low_hamming(docs_with_dups):
    sigs = simhash(docs_with_dups, "text", "doc_id")
    cands = {(r.key_a, r.key_b): r.hamming
             for r in simhash_candidates(sigs, n_bands=8).collect()}
    assert cands.get((1, 2)) == 0                      # identical text
    by_key = {r.key: r.simhash for r in sigs.collect()}
    ham13 = bin(by_key[1] ^ by_key[3]).count("1")
    ham14 = bin(by_key[1] ^ by_key[4]).count("1")
    assert ham13 < ham14                               # near < far


def test_simhash_banding_catches_prefix_flips(spark):
    """Pairs differing ONLY inside the top bits are guaranteed candidates
    (the old single-prefix bucketing missed exactly these)."""
    base = 0b10110100_01011010_11001100_00110101
    rows = [
        (1, base),
        (2, base ^ (1 << 31)),       # hamming 1, flipped TOP bit
        (3, base ^ (0b111 << 29)),   # hamming 3, all inside top band
        # hamming 16, 4 flips in EVERY 8-bit band: far, shares no band
        (4, base ^ 0b01010101_01010101_01010101_01010101),
    ]
    sigs = spark.createDataFrame(rows, "key long, simhash long")
    cands = {(r.key_a, r.key_b): r.hamming
             for r in simhash_candidates(sigs, n_bands=4).collect()}
    assert cands.get((1, 2)) == 1   # guaranteed: ≤ n_bands-1 differing bits
    assert cands.get((1, 3)) == 3
    assert cands.get((2, 3)) == 2
    assert (1, 4) not in cands      # far pair shares no band


def test_simhash_hot_bucket_cap(spark):
    """A band value shared by a huge cluster is dropped before the
    self-join; pairs co-bucketed by another band survive."""
    rows = [(i, 0) for i in range(1, 21)]       # 20 identical signatures
    sigs = spark.createDataFrame(rows, "key long, simhash long")
    assert simhash_candidates(sigs, n_bands=4,
                              max_bucket_size=10).count() == 0
    assert simhash_candidates(sigs, n_bands=4,
                              max_bucket_size=None).count() == 190


def test_ann_recall_vs_brute_force(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 1).first()["embedding"]]
    exact = [r.key for r in brute_force_topk(
        e, "embedding", "vec_id", qvec, k=10).collect()]
    # the synthetic embeddings are near-uniform random (best non-self
    # cosine ≈ 0.39), the hardest case for hyperplane LSH — probe a wider
    # hamming radius to trade candidates for recall
    approx = [r.key for r in ann_topk(
        e, "embedding", "vec_id", qvec, k=10, n_bits=6,
        hamming_radius=3).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.6, f"ANN recall {recall} too low"
    assert exact[0] == 1  # the query vector itself is its own best match


def test_ivf_topk_recall_and_candidate_fraction(spark):
    from ocr_processing_pipeline_spark.operators.similarity import (
        ivf_index, ivf_topk)
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 7).first()["embedding"]]
    exact = [r.key for r in brute_force_topk(
        e, "embedding", "vec_id", qvec, k=10).collect()]
    approx = [r.key for r in ivf_topk(
        e, "embedding", "vec_id", qvec, k=10, n_cells=8,
        n_probe=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.4     # near-uniform random vectors: hardest case
    assert approx[0] == 7    # query's own vector is in its own cell
    # the index actually partitions the corpus
    assigned, cents = ivf_index(e, "embedding", "vec_id", n_cells=8,
                                dim=len(qvec))
    sizes = assigned.groupBy("cell").count().collect()
    assert len(sizes) == 8
    assert max(r["count"] for r in sizes) < e.count()  # no single blob


def test_label_centroids_shape(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(e.first()["embedding"])
    cents = label_centroids(e, "embedding", "label", dim=dim).collect()
    labels = {r.label for r in e.select("label").distinct().collect()}
    assert {r.label for r in cents} == labels
    for r in cents:
        assert len(r.centroid) == dim


def test_multimodal_sniff_and_features(spark):
    from ocr_processing_pipeline_spark.operators.multimodal import (
        FEATURE_BINS, extract_features, sniff_media)
    rows = [
        ("png", b"\x89PNG\r\n\x1a\n" + b"\x00" * 64),
        ("jpg", b"\xff\xd8\xff\xe0" + b"\xab" * 64),
        ("pdf", b"%SPDF1\n" + b"\x00" * 16),
        ("raw", b"\x01\x02\x03\x04" * 16),
        ("empty", b""),
    ]
    df = spark.createDataFrame(rows, "key string, payload binary")
    sniffed = {r.key: r.media_kind
               for r in sniff_media(df, "payload").collect()}
    assert sniffed["png"] == "image/png"
    assert sniffed["jpg"] == "image/jpeg"
    assert sniffed["pdf"] == "application/x-spdf"
    assert sniffed["raw"] == "application/octet-stream"

    feats = {r.key: r.features for r in extract_features(
        sniff_media(df, "payload"), "payload", "key").collect()}
    assert len(feats["png"]) == FEATURE_BINS
    assert abs(sum(feats["jpg"]) - 1.0) < 1e-9      # L1-normalized
    assert feats["empty"] == [0.0] * FEATURE_BINS


def test_near_dup_hot_label_cap(spark):
    """One skewed label can't go O(label²): labels above max_label_size
    are dropped before the self-join; small labels still pair."""
    from ocr_processing_pipeline_spark.operators.similarity import (
        near_dup_pairs_by_label)
    rows = ([(i, [1.0, 0.0, 0.0, 0.0], 7) for i in range(30)]   # hot label
            + [(100 + i, [0.0, 1.0, 0.0, float(i) / 10], 1)
               for i in range(3)])
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    capped = near_dup_pairs_by_label(
        e, "embedding", "label", "vec_id", min_cos=0.3, max_label_size=10)
    got = {(r.label, r.key_a, r.key_b) for r in capped.collect()}
    assert all(lbl == 1 for lbl, *_ in got)      # hot label 7 dropped
    assert len(got) == 3                         # small label all-pairs
    uncapped = near_dup_pairs_by_label(
        e, "embedding", "label", "vec_id", min_cos=0.3,
        max_label_size=None)
    assert uncapped.filter("label = 7").count() == 30 * 29 // 2


def test_media_features_csv_is_driver_hashable(spark, corpus_dir):
    """The registry query must emit no array columns (the driver
    canonicalizer sorts+hashes pandas values; lists are unhashable)."""
    from ocr_processing_pipeline_spark.plans.queries import QUERIES
    df = QUERIES["media_features"].fn(spark, "/root/testdata/sf0.001")
    assert not any("array" in f.dataType.simpleString()
                   for f in df.schema.fields)
    pdf = df.limit(20).toPandas()
    pdf.sort_values(by=sorted(pdf.columns))      # crashes on lists
    assert pdf["features_csv"].str.count(",").eq(15).all()


def test_connected_components_transitive(spark):
    """A~B, B~C must land in ONE cluster even though (A,C) is not a
    pair; disjoint cluster keeps its own canonical."""
    from ocr_processing_pipeline_spark.operators.dedup import (
        connected_components)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (20, 21)], "key_a long, key_b long")
    comp = {r.key: r.component
            for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 9: 1, 20: 20, 21: 20}


def test_connected_components_raises_on_cap_exit(spark):
    """A chain longer than max_iter hops must raise, never return
    silently split components (min-label spreads one hop per round)."""
    import pytest
    from ocr_processing_pipeline_spark.operators.dedup import (
        connected_components)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "key_a long, key_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    comp = {r.key: r.component
            for r in connected_components(chain, max_iter=10).collect()}
    assert set(comp.values()) == {0}


def test_minhash_lsh_dedup_enforces_unique_keys(spark):
    """Duplicate input keys must not inflate shingle counts: the default
    enforce_unique_keys drops them, so a doc duplicated 3x under one key
    scores identically to a single-row corpus."""
    from ocr_processing_pipeline_spark.operators.dedup import (
        minhash_lsh_dedup)
    rows = [(1, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_lsh_dedup(df, "text", "doc_id", n=3, min_jaccard=0.1,
                            num_hashes=4, band_size=2).collect()
    clean = minhash_lsh_dedup(
        spark.createDataFrame(rows[2:], "doc_id long, text string"),
        "text", "doc_id", n=3, min_jaccard=0.1,
        num_hashes=4, band_size=2).collect()
    key = lambda r: (r.key_a, r.key_b, r.shared, r.n_a, r.n_b)
    assert sorted(map(key, out)) == sorted(map(key, clean))


def test_connected_components_converges_at_exact_cap(spark):
    """diameter == max_iter must converge (the loop runs one extra
    zero-change proof round), not be mistaken for a cap exit."""
    from ocr_processing_pipeline_spark.operators.dedup import (
        connected_components)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "key_a long, key_b long")
    comp = {r.key: r.component
            for r in connected_components(chain, max_iter=5).collect()}
    assert set(comp.values()) == {0}


def test_enforce_unique_keys_is_deterministic(spark):
    """Conflicting rows under one key must dedup to the SAME survivor on
    every run: min content fingerprint, not partition order."""
    from ocr_processing_pipeline_spark.operators.dedup import (
        fingerprint, minhash_lsh_dedup)
    from pyspark.sql import functions as F
    texts = ["zeta eta theta iota kappa lambda mu nu xi omicron",
             "alpha beta gamma delta epsilon zeta eta theta iota kappa"]
    rows = ([(1, t) for t in texts]
            + [(2, "alpha beta gamma delta epsilon zeta eta theta iota "
                   "kappa extra")])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    winner = min(texts, key=lambda t: __import__("hashlib").md5(
        " ".join(t.lower().split()).encode()).hexdigest())
    runs = []
    for _ in range(2):
        out = minhash_lsh_dedup(df.repartition(4), "text", "doc_id",
                                n=3, min_jaccard=0.1,
                                num_hashes=4, band_size=2).collect()
        runs.append(sorted((r.key_a, r.key_b, r.shared) for r in out))
    assert runs[0] == runs[1]
    # survivor check: pairs exist iff the kept text for key 1 is the
    # md5-min one (which shares 5+ tokens with key 2's text)
    expect_pair = "alpha beta" in winner
    assert (len(runs[0]) > 0) == expect_pair


def test_ivf_null_vector_lands_in_quarantine_cell(spark):
    """A null embedding must surface as cell -1 (never probed, but
    visible), not silently vanish from the index."""
    from ocr_processing_pipeline_spark.operators.similarity import (
        ivf_index)
    rows = [(i, [float(i), float(i + 1)]) for i in range(6)]
    rows.append((6, None))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, _ = ivf_index(e, "embedding", "vec_id",
                            n_cells=4, iters=0, dim=2)
    cells = {r.key: r.cell for r in assigned.collect()}
    assert cells[6] == -1
    assert all(c >= 0 for k, c in cells.items() if k != 6)


def test_canonicalize_url_planted_and_idempotent(spark):
    from ocr_processing_pipeline_spark.operators.text import (
        canonicalize_url, url_host)
    rows = [
        ("HTTPS://Ex.COM:443/A/b/?utm_source=x&id=1&fbclid=z#top",
         "https://ex.com/A/b?id=1"),
        ("http://ex.com:80/", "http://ex.com"),
        ("https://ex.com/path/?utm_campaign=c", "https://ex.com/path"),
        ("https://ex.com/p?id=2&utm_medium=m&q=3", "https://ex.com/p?id=2&q=3"),
        ("https://ex.com/clean?a=1", "https://ex.com/clean?a=1"),
        # non-default ports survive intact (':80' must not eat ':8080')
        ("http://ex.com:8080/a", "http://ex.com:8080/a"),
        ("https://ex.com:4433/x", "https://ex.com:4433/x"),
        # tracking-param pattern must not fire inside longer names/values
        ("https://ex.com/p?my_gclid=5&a=1", "https://ex.com/p?my_gclid=5&a=1"),
        ("https://ex.com/p?q=gclid=zz", "https://ex.com/p?q=gclid=zz"),
        ("https://ex.com/p?utm_a=1&utm_b=2", "https://ex.com/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in rows], "url string")
    got = [r.c for r in df.select(
        canonicalize_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in rows]
    # idempotence: canonical form is a fixed point
    df2 = spark.createDataFrame([(c,) for c in got], "url string")
    again = [r.c for r in df2.select(
        canonicalize_url(F.col("url")).alias("c")).collect()]
    assert again == got
    hosts = [r.h for r in df.select(url_host(
        canonicalize_url(F.col("url"))).alias("h")).collect()]
    assert hosts == ["ex.com"] * len(rows)


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 60-hop drift chain must converge well inside max_iter=12:
    plain propagation would need 60 rounds, but pointer jumping engages
    after round 3 and reach doubles per round (O(log diameter))."""
    from ocr_processing_pipeline_spark.operators.dedup import (
        connected_components)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "key_a long, key_b long")
    comp = {r.key: r.component
            for r in connected_components(chain, max_iter=12).collect()}
    assert len(comp) == 61 and set(comp.values()) == {0}


def test_simhash_null_signature_pairs(spark):
    """Docs with NULL text have NULL signatures; with max_hamming=None
    (recall-study mode) they must still pair among themselves with a
    NULL hamming — the per-doc formulation banded them under the bare
    band prefix and emitted the pairs, and the signature-space rewrite
    must not silently drop them (null-safe joins). With a hamming
    threshold they are filtered out, as before."""
    from ocr_processing_pipeline_spark.operators.dedup import (
        simhash, simhash_candidates)
    rows = [(1, None), (2, None),
            (3, "alpha beta gamma delta"), (4, "alpha beta gamma delta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = simhash(df, "text", "doc_id")
    allp = {(r.key_a, r.key_b): r.hamming
            for r in simhash_candidates(sigs, n_bands=4,
                                        max_hamming=None).collect()}
    assert (1, 2) in allp and allp[(1, 2)] is None
    assert allp.get((3, 4)) == 0
    capped = {(r.key_a, r.key_b)
              for r in simhash_candidates(sigs, n_bands=4,
                                          max_hamming=3).collect()}
    assert (1, 2) not in capped and (3, 4) in capped
