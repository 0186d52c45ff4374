"""Deduplication operators for training-data pipelines.

Four families, all shuffle-conscious and expressed with built-in functions
(JVM-side, codegen'd) — no Python in the hot path:

- exact:        hash-groupBy on a normalized fingerprint (one shuffle)
- MinHash+LSH:  shingle → k portable minhashes → bands → bucket self-join →
                verified Jaccard (classic Broder'97 / MMDS ch.3 pipeline);
                the band join touches only candidate buckets, never the
                full O(n²) cross product
- SimHash:      64-bit bitwise-majority signature (Charikar'02), hamming
                buckets for near-dup candidates
- n-gram Jaccard: exact verified containment via shingle-inverted-index
                join — the verification stage LSH feeds into

Portability note: minhash/fingerprint use md5 (present in both Spark and
DuckDB) so the DuckDB oracle can replicate them exactly. At
100 TB the md5 cost is still tiny next to the shuffle it avoids.

Reference analogue: first-seen-wins dedup over a full collection scan
(Data/Weaviate/deduplicate.py:16-26, F10/A6 in SURVEY §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_SIZE = 2

# The parameters the materialized snapshot dedup index is BUILT with
# (dedup_index_dir writes these to the index's params.json; the queries
# that probe the index raise when that file disagrees with them). One
# constant for the build and every probe — band keys from mismatched
# parameters never collide, so the sites must never drift apart.
INDEX_BUILD_PARAMS = {"n": 3, "num_hashes": 4, "band_size": 2,
                      "hash_impl": "md5"}


def normalize_text(col):
    """Whitespace-collapsed, lowercased — the dedup canonical form."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def fingerprint(col):
    """Content fingerprint of normalized text: md5, the oracle-portable
    form (DuckDB has md5)."""
    return F.md5(normalize_text(col))


def exact_dedup(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    """First-seen-wins exact dedup: keep min(key) per fingerprint."""
    w = Window.partitionBy("fp").orderBy(key_col)
    return (df
            .withColumn("fp", fingerprint(F.col(text_col)))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("fp", "rn"))


def shingles(df: DataFrame, text_col: str, key_col: str,
             n: int = 3) -> DataFrame:
    """(key, shingle) pairs: distinct word n-grams of normalized text.

    Built-ins only, zip-shift formulation: n-1 shifted copies of the
    token array are zip_with-concatenated element-wise, then the gram
    array is sliced to the size-n+1 valid starts. The obvious
    transform-over-start-offsets alternative calls slice() (a subarray
    COPY) per element and measured 4.8× slower (3.2s vs 0.67s at sf0.1);
    zip_with pads the shorter side with nulls, which concat_ws skips —
    exactly reproducing the short-tail gram of a <n-token doc, so the
    two formulations are output-identical (pinned by the oracle suite).
    Uniqueness per key comes from array_distinct BEFORE the explode
    (narrow, in-row); there is deliberately NO row-level .distinct() —
    that would be a full (key, shingle)-sized shuffle. Precondition: one
    row per key (run exact_dedup first if the corpus can carry duplicate
    keys).
    """
    grams = gram_array(F.split(normalize_text(F.col(text_col)), " "), n)
    return (df.select(F.col(key_col).alias("key"),
                      F.explode(F.array_distinct(grams)).alias("shingle"))
            .filter(F.length("shingle") > 0))


def gram_array(toks, n: int):
    """Array column of word n-grams over a token-array column (zip-shift;
    see shingles' docstring for why not transform-over-offsets). Length
    is size-n+1 for docs with ≥n tokens, else 1 short-tail gram."""
    sz = F.size(toks)
    grams = toks
    for k in range(1, n):
        grams = F.zip_with(grams, F.slice(toks, k + 1, sz),
                           lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(grams, 1, F.greatest(sz - (n - 1), F.lit(1)))


def minhash_signatures(sh: DataFrame,
                       num_hashes: int = DEFAULT_NUM_HASHES) -> DataFrame:
    """(key, h0..h{k-1}): minhash over a seeded md5 family (oracle-
    portable). Each digest is split into four independent 32-bit (8-hex)
    lanes, so k hashes cost ceil(k/4) md5 evaluations per shingle instead
    of k — the digests are materialized in an explicit projection so they
    are computed exactly once. Fixed-width lowercase hex makes string
    min == numeric min."""
    n_md5 = (num_hashes + 3) // 4
    proj = sh.select(
        "key",
        *[F.md5(F.concat_ws(":", F.lit(str(s)), "shingle")).alias(f"d{s}")
          for s in range(n_md5)])
    aggs = [F.min(F.substring(F.col(f"d{i // 4}"), (i % 4) * 8 + 1, 8))
            .alias(f"h{i}") for i in range(num_hashes)]
    return proj.groupBy("key").agg(*aggs)


def band_keys(sig: DataFrame,
              num_hashes: int = DEFAULT_NUM_HASHES,
              band_size: int = DEFAULT_BAND_SIZE,
              max_bucket_size: int | None = None) -> DataFrame:
    """(key, band) LSH band keys of a signature table — the probe/index
    unit of banded MinHash. ``max_bucket_size`` (optional here) drops
    hot band buckets, same contract as lsh_candidate_pairs."""
    n_bands = num_hashes // band_size
    bands = F.array(*[
        F.concat_ws("|", F.lit(str(b)),
                    *[F.col(f"h{b * band_size + j}")
                      for j in range(band_size)])
        for b in range(n_bands)])
    banded = sig.select("key", F.explode(bands).alias("band"))
    if max_bucket_size is not None:
        w = Window.partitionBy("band")
        banded = (banded
                  .withColumn("_bn", F.count(F.lit(1)).over(w))
                  .filter(F.col("_bn") <= max_bucket_size)
                  .drop("_bn"))
    return banded


def lsh_candidate_pairs(sig: DataFrame,
                        num_hashes: int = DEFAULT_NUM_HASHES,
                        band_size: int = DEFAULT_BAND_SIZE,
                        max_bucket_size: int | None = 10000) -> DataFrame:
    """Banding: keys sharing any band collide; returns (key_a < key_b).

    ``max_bucket_size`` drops pathologically hot band buckets before the
    self-join — at web scale a band shared by millions of boilerplate
    pages would otherwise produce an O(bucket²) blow-up. Such groups are
    exact or near-exact duplicate classes: run ``exact_dedup`` FIRST (it
    collapses them in one shuffle), then LSH on the survivors; the cap is
    the safety net, and dropped buckets are still co-grouped by any other
    non-hot band they share.

    The capped band table is localCheckpointed once before the
    self-join: BOTH join legs otherwise re-derive the whole signature
    aggregation + hot-bucket window from the shingle table (the r7 plan
    audit showed the duplicated Exchange+Window chain; within-JVM A/B
    at sf0.1: full LSH chain 2.2-2.6 s → 1.6-1.8 s).
    """
    banded = (band_keys(sig, num_hashes, band_size, max_bucket_size)
              .localCheckpoint(eager=False))
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, "band")
            .filter(F.col("a.key") < F.col("b.key"))
            .select(F.col("a.key").alias("key_a"),
                    F.col("b.key").alias("key_b"))
            .distinct())


def jaccard_pairs(sh: DataFrame, min_jaccard: float,
                  candidates: DataFrame | None = None,
                  max_doc_freq: int | None = None) -> DataFrame:
    """Verified n-gram Jaccard over an inverted-index join.

    With ``candidates`` (from LSH) the join is restricted to candidate
    pairs — the 100 TB path. Without, it computes all co-shingled pairs
    (small-data / oracle-comparable path). Either way no cross product:
    only keys sharing ≥1 shingle ever meet.

    Precondition (inherited from ``shingles``): ``sh`` must carry one row
    set per DISTINCT key — duplicate keys inflate both the size and
    shared counts and silently skew every Jaccard value. Run
    ``exact_dedup`` first (or ``minhash_lsh_dedup`` with its default
    ``enforce_unique_keys=True``) when the corpus can carry duplicates.

    ``max_doc_freq`` drops shingles appearing in more than N docs before
    the self-join (standard stop-shingle pruning): a boilerplate 3-gram
    shared by millions of pages contributes O(df²) join rows but almost
    no Jaccard evidence. NOTE: changes scores slightly (shingle sets
    shrink) — leave None when exact parity matters.

    Shingle strings are replaced by xxhash64 ints before the join: only
    equality matters downstream, and the shuffle/join keys drop from
    ~20-byte strings to 8 bytes (collision odds at 10^9 distinct
    shingles ≈ 3e-2 per corpus... per PAIR it is 2^-64; the expected
    effect on any count is negligible and the DuckDB oracle run stays
    green on the test corpora).
    """
    # materialize the hashed inverted index ONCE, BEFORE any consumer:
    # it feeds the df-prune aggregation, the sizes leg, and BOTH sides
    # of the self-join — without this Catalyst re-runs the whole shingle
    # explode per leg (the r2 9.0 s regression was exactly that;
    # checkpointed it is ~5 s at sf0.1, under r1's 6.0 s). Two longs per
    # row — far smaller than the corpus it indexes.
    sh = sh.select("key", F.xxhash64("shingle").alias("shingle"))
    # Keep this checkpoint even on the candidates path, where the
    # projection has a single consumer (the key semi-join) before the
    # post-restriction checkpoint: skipping it saved ~0.2-0.3 s at
    # sf0.1 but regressed ~40% at a 50k-doc/dense-cluster stress tier
    # (32.9 s vs 54.9 s for the full chain) — at size, the semi-join's
    # sort/shuffle over a materialized compact table beats re-deriving
    # the hashed projection inside the join stage. Scale wins.
    sh = sh.localCheckpoint(eager=False)
    restricted = False
    if max_doc_freq is not None:
        hot = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
               .filter(F.col("df") > max_doc_freq).select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
        restricted = True
    if candidates is not None:
        # restrict the inverted index to candidate KEYS before the
        # self-join (not just the pair set after): the whole point of LSH
        # is that the verify stage never touches non-candidate documents
        cand_keys = (candidates.select(F.col("key_a").alias("key"))
                     .union(candidates.select(F.col("key_b").alias("key")))
                     .distinct())
        sh = sh.join(cand_keys, "key", "left_semi")
        restricted = True
    if restricted:
        # cut the restriction joins too, or each of the three downstream
        # legs replays them against the first checkpoint
        sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (a.join(b, "shingle")
              .filter(F.col("a.key") < F.col("b.key"))
              .groupBy(F.col("a.key").alias("key_a"),
                       F.col("b.key").alias("key_b"))
              .agg(F.count(F.lit(1)).alias("shared")))
    if candidates is not None:
        shared = shared.join(candidates, ["key_a", "key_b"], "left_semi")
    sa = sizes.select(F.col("key").alias("key_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("key").alias("key_b"), F.col("n").alias("n_b"))
    return (shared.join(sa, "key_a").join(sb, "key_b")
            .withColumn(
                "jaccard",
                (F.col("shared")
                 / (F.col("n_a") + F.col("n_b") - F.col("shared")))
                .cast("double"))
            .filter(F.col("jaccard") >= min_jaccard)
            .select("key_a", "key_b", "shared", "n_a", "n_b", "jaccard"))


def minhash_lsh_dedup(df: DataFrame, text_col: str, key_col: str,
                      n: int = 3, min_jaccard: float = 0.8,
                      num_hashes: int = DEFAULT_NUM_HASHES,
                      band_size: int = DEFAULT_BAND_SIZE,
                      enforce_unique_keys: bool = True) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH → verify.

    ``enforce_unique_keys`` drops duplicate-key rows up front (shingles/
    jaccard_pairs require one row per key or every count is silently
    wrong). The survivor is DETERMINISTIC — min content fingerprint per
    key, not dropDuplicates' partition-order pick — so two runs over the
    same corpus always dedup identically. One shuffle of the input; a
    pipeline that already ran ``exact_dedup`` (the recommended 100 TB
    order — collapse exact dups BEFORE the shingle explode) can pass
    False to skip it.
    """
    if enforce_unique_keys:
        w = Window.partitionBy(key_col).orderBy(fingerprint(F.col(text_col)))
        df = (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))
    # one shingle explode for the whole chain: the signature leg and the
    # verify leg otherwise each re-run it from the corpus scan
    sh = shingles(df, text_col, key_col, n=n).localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(minhash_signatures(sh, num_hashes),
                                num_hashes, band_size)
    # the candidate pair set feeds TWO legs inside jaccard_pairs (the
    # key restriction and the pair semi-join); without a checkpoint each
    # re-runs the band self-join + pair distinct — invisible at sf0.1
    # (256 pairs) but a 125 s vs 72 s difference at a 50k-doc dense-
    # cluster stress tier where the candidate set is millions of rows
    cands = cands.localCheckpoint(eager=False)
    return jaccard_pairs(sh, min_jaccard, candidates=cands)


def incremental_dedup(new_df: DataFrame, existing_df: DataFrame,
                      text_col: str, key_col: str, *,
                      n: int = 3, min_jaccard: float = 0.5,
                      num_hashes: int = DEFAULT_NUM_HASHES,
                      band_size: int = DEFAULT_BAND_SIZE,
                      max_bucket_size: int | None = 10000,
                      existing_fingerprints: DataFrame | None = None,
                      existing_band_index: DataFrame | None = None
                      ) -> DataFrame:
    """Cross-snapshot dedup: decide every NEW doc against an EXISTING
    corpus — the production shape for a training-data pipeline ingesting
    crawl snapshot N+1 against the corpus it already holds (reference
    analogue: first-seen-wins against the already-loaded store,
    Data/Weaviate/deduplicate.py:16-26).

    Returns one row per new doc: (key, canonical, match_kind) with
    match_kind ∈ {'exact', 'near', 'unique'}:

    - **exact**: content fingerprint already in the existing corpus;
      canonical = min existing key with that fingerprint. One join of
      new fingerprints against the (materialized) fingerprint table —
      the existing TEXT is never touched.
    - **near**: MinHash band keys of the non-exact survivors PROBE the
      existing corpus's band index (never rebuild it — pass
      ``existing_band_index`` from the snapshot-N materialization);
      candidates are then verified by exact n-gram Jaccard ≥
      ``min_jaccard``, re-shingling ONLY the candidate existing docs
      (a semi-join restriction — at 10^12 docs the verify stage touches
      O(candidates), not the corpus). canonical = min verified existing
      key. Production systems then map canonical through the existing
      decisions table so chains resolve to the snapshot-N canonical —
      ``resolve_canonicals(verdicts, decisions)`` below (one broadcast
      join; separate because the decisions table is its own artifact).
    - **unique**: everything else; canonical = the doc's own key.

    New-vs-new duplicates are deliberately NOT decided here — run the
    within-snapshot operators (exact_dedup / minhash_lsh_dedup) on the
    new snapshot first; this operator answers only "is it already in
    the corpus". ``existing_fingerprints`` (key, fp) and
    ``existing_band_index`` (key, band) default to being derived from
    ``existing_df`` when not supplied (small-data / oracle path)."""
    fp_new = (new_df.select(F.col(key_col).alias("key"),
                            fingerprint(F.col(text_col)).alias("fp"))
              .localCheckpoint(eager=False))
    if existing_fingerprints is None:
        existing_fingerprints = existing_df.select(
            F.col(key_col).alias("key"),
            fingerprint(F.col(text_col)).alias("fp"))
    exact_canon = (existing_fingerprints.groupBy("fp")
                   .agg(F.min("key").alias("canonical")))
    exact = (fp_new.join(exact_canon, "fp")
             .select("key", "canonical",
                     F.lit("exact").alias("match_kind")))
    rest_keys = fp_new.join(exact_canon, "fp", "left_anti").select("key")
    rest = new_df.join(rest_keys, new_df[key_col] == rest_keys["key"],
                       "left_semi")

    # probe: bands of the non-exact new docs vs the existing band index
    sh_new = shingles(rest, text_col, key_col, n=n).localCheckpoint(
        eager=False)
    probe = band_keys(minhash_signatures(sh_new, num_hashes),
                      num_hashes, band_size)
    if existing_band_index is None:
        existing_band_index = band_keys(
            minhash_signatures(shingles(existing_df, text_col, key_col,
                                        n=n), num_hashes),
            num_hashes, band_size, max_bucket_size)
    cands = (probe
             .join(existing_band_index.withColumnRenamed("key", "old_key"),
                   "band")
             .select(F.col("key").alias("new_key"), "old_key")
             .distinct()
             .localCheckpoint(eager=False))

    # verify: exact Jaccard over the candidate keys only (8-byte hashed
    # shingle join keys, same trade as jaccard_pairs)
    sh_new_c = (sh_new.join(cands.select(F.col("new_key").alias("key"))
                            .distinct(), "key", "left_semi")
                .select("key", F.xxhash64("shingle").alias("shingle"))
                .localCheckpoint(eager=False))
    old_keys = cands.select("old_key").distinct()
    old_cand_docs = existing_df.join(
        old_keys, existing_df[key_col] == old_keys["old_key"], "left_semi")
    sh_old_c = (shingles(old_cand_docs, text_col, key_col, n=n)
                .select("key", F.xxhash64("shingle").alias("shingle"))
                .localCheckpoint(eager=False))
    sizes_n = sh_new_c.groupBy("key").agg(F.count(F.lit(1)).alias("n_a"))
    sizes_o = sh_old_c.groupBy("key").agg(F.count(F.lit(1)).alias("n_b"))
    shared = (sh_new_c.alias("a").join(sh_old_c.alias("b"), "shingle")
              .groupBy(F.col("a.key").alias("new_key"),
                       F.col("b.key").alias("old_key"))
              .agg(F.count(F.lit(1)).alias("shared"))
              .join(cands, ["new_key", "old_key"], "left_semi"))
    ver = (shared
           .join(sizes_n.withColumnRenamed("key", "new_key"), "new_key")
           .join(sizes_o.withColumnRenamed("key", "old_key"), "old_key")
           .filter((F.col("shared")
                    / (F.col("n_a") + F.col("n_b") - F.col("shared")))
                   .cast("double") >= min_jaccard))
    near = (ver.groupBy(F.col("new_key").alias("key"))
            .agg(F.min("old_key").alias("canonical"))
            .select("key", "canonical", F.lit("near").alias("match_kind")))

    unique = (fp_new.select("key")
              .join(exact.select("key"), "key", "left_anti")
              .join(near.select("key"), "key", "left_anti")
              .select("key", F.col("key").alias("canonical"),
                      F.lit("unique").alias("match_kind")))
    return exact.unionByName(near).unionByName(unique)


def resolve_canonicals(verdicts: DataFrame,
                       decisions: DataFrame) -> DataFrame:
    """Chain incremental verdicts through the existing corpus's dedup
    decisions table: a new doc matching existing doc E whose own
    canonical (from the snapshot-N ``dedup_components`` run) is R must
    resolve to R, not E — otherwise each snapshot starts a fresh
    canonical lineage and clusters fragment across snapshots.

    ``decisions`` is the (doc_id, canonical_id) table the decisions dir
    materializes; it is O(duplicate docs) — broadcastable at any corpus
    size where the duplicate fraction times 16 bytes fits an executor
    (filter to canonical_id != doc_id rows upstream for the minimal
    form). One broadcast left join; 'unique' verdicts (canonical = own
    key, never in the decisions table's remap) pass through unchanged.
    """
    remap = decisions.select(
        F.col("doc_id").alias("canonical"),
        F.col("canonical_id").alias("_root"))
    return (verdicts
            .join(F.broadcast(remap), "canonical", "left")
            .select("key",
                    F.coalesce("_root", F.col("canonical"))
                    .alias("canonical"),
                    "match_kind"))


def snapshot_admission(new_df: DataFrame, verdicts: DataFrame,
                       decisions: DataFrame, text_col: str, key_col: str,
                       *, n: int = 3, min_jaccard: float = 0.5,
                       num_hashes: int = DEFAULT_NUM_HASHES,
                       band_size: int = DEFAULT_BAND_SIZE) -> DataFrame:
    """Full per-crawl-drop admission decision: ONE row per incoming doc.

    The production composition a training-data team runs when crawl
    snapshot N+1 lands (reference analogue: the load loop that checks
    Weaviate for an existing url before inserting,
    Data/Weaviate/deduplicate.py:16-26, generalized to content + near
    matches and decided set-at-a-time, not row-at-a-time). Ordered
    decision procedure — each phase only sees what the previous phases
    left, so the MOST expensive stage (the within-snapshot LSH +
    connected components) runs over the SMALLEST set:

    1. **cross-snapshot** (``verdicts`` = ``incremental_dedup`` output,
       served from the materialized verdicts table): exact/near matches
       of the existing corpus, canonicals CHAINED through the existing
       ``decisions`` table via :func:`resolve_canonicals` (one broadcast
       join) so a new doc matching existing doc E whose snapshot-N
       canonical is R resolves to R — clusters never fragment across
       snapshots. A doc that is simultaneously a new∪new dup AND a
       match of the existing corpus is decided HERE (cross wins): its
       canonical is the existing root, never a fresh new-snapshot id.
    2. **exact new∪new** (``match_kind='exact_new'``): fingerprint
       groupBy over the cross-unique survivors; canonical = min new key
       of the byte-identical group. One shuffle on the 16-byte fp.
    3. **near new∪new** (``'near_new'``): ``minhash_lsh_dedup`` →
       ``connected_components`` over what remains; canonical = min key
       of the within-snapshot cluster. These canonicals are new-snapshot
       keys and deliberately NOT chained through ``decisions`` — the
       cluster root is itself cross-unique by construction, so it IS the
       doc being admitted.
    4. **unique**: everything else; canonical = own key.

    Returns (key, canonical, match_kind) with match_kind ∈
    {'exact', 'near', 'exact_new', 'near_new', 'unique'}. Admission =
    match_kind == 'unique' (optionally ∧ a quality gate, composed by the
    caller). At 10^12 docs every stage is bounded: the existing corpus
    is only ever PROBED through its materialized fingerprint/band
    artifacts (inside ``verdicts``), the decisions remap is a broadcast,
    and the LSH self-join sees only the cross-unique remainder."""
    resolved = resolve_canonicals(verdicts, decisions)
    cross = resolved.filter(F.col("match_kind") != "unique")
    uniq_keys = (resolved.filter(F.col("match_kind") == "unique")
                 .select(F.col("key").alias(key_col)))
    # uniq_docs feeds THREE plan legs (fingerprint, the LSH remainder,
    # and through exact_new the final anti-join); without a checkpoint
    # Catalyst re-derives the semi-join + verdict resolution per leg
    # (docs/serving.md — batch-side lineage-reuse rule)
    uniq_docs = (new_df.select(key_col, text_col)
                 .join(uniq_keys, key_col, "left_semi")
                 .localCheckpoint(eager=False))
    fp = uniq_docs.select(F.col(key_col).alias("key"),
                          fingerprint(F.col(text_col)).alias("fp"))
    fp_canon = fp.groupBy("fp").agg(F.min("key").alias("canonical"))
    # exact_new is consumed twice (decided union + rest's anti-join) and
    # is O(dup-docs) small — checkpoint so the fp shuffle runs once
    exact_new = (fp.join(fp_canon, "fp")
                 .filter(F.col("key") != F.col("canonical"))
                 .select("key", "canonical",
                         F.lit("exact_new").alias("match_kind"))
                 .localCheckpoint(eager=False))
    rest = uniq_docs.join(
        exact_new.select(F.col("key").alias(key_col)), key_col,
        "left_anti")
    # keys are unique here by construction (exact_new collapsed the
    # byte-identical groups), so skip the dedup guard's window pass
    pairs = minhash_lsh_dedup(rest, text_col, key_col, n=n,
                              min_jaccard=min_jaccard,
                              num_hashes=num_hashes, band_size=band_size,
                              enforce_unique_keys=False)
    near_new = (connected_components(pairs)
                .filter(F.col("key") != F.col("component"))
                .select("key", F.col("component").alias("canonical"),
                        F.lit("near_new").alias("match_kind")))
    # chain exact_new through near_new: a byte-identical group's min-key
    # representative stays in `rest` and can itself be demoted to
    # near_new — without this remap its exact_new members would point at
    # a non-admitted doc. Depth 1 suffices: near_new roots are cross-
    # unique, not exact_new (group minima), and not near_new (component
    # roots), so they ARE admitted. Same chaining join as the cross-
    # snapshot case, so reuse it (near_new IS a decisions table here).
    exact_new = resolve_canonicals(
        exact_new, near_new.select(F.col("key").alias("doc_id"),
                                   F.col("canonical").alias("canonical_id")))
    decided = cross.unionByName(exact_new).unionByName(near_new)
    unique = (new_df.select(F.col(key_col).alias("key"))
              .join(decided.select("key"), "key", "left_anti")
              .select("key", F.col("key").alias("canonical"),
                      F.lit("unique").alias("match_kind")))
    return decided.unionByName(unique)


# --- SimHash ------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    """32-bit SimHash per key, built-ins only.

    Per token: a 32-bit hash (first 8 hex chars of md5 → long via conv).
    Per bit: majority vote over tokens (+1/-1), sign → bit. All vectorized
    array ops inside codegen; one groupBy-free pass (per-row aggregate over
    the token array).
    """
    toks = F.array_distinct(
        F.split(normalize_text(F.col(text_col)), " "))
    tok_hash = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10)
        .cast("long"))
    # bit b of h via getbit (JVM bit op; accepts a Column position —
    # shiftright() would need a literal numBits, but b is per-element).
    # ONE aggregate pass builds the whole 32-vote array (zip_with inside
    # the fold): the transform-of-32-aggregates formulation walked the
    # token array 32 times and its 32x expression tree took seconds of
    # codegen — this is ~7x faster end-to-end and bit-identical.
    bits = F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))
    bit_votes = F.aggregate(
        tok_hash,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc, bits,
            lambda a, b: a + F.when(F.getbit(h, b) == 1,
                                    F.lit(1)).otherwise(F.lit(-1))))
    sig = F.aggregate(
        F.zip_with(bit_votes, bits,
                   lambda v, b: F.when(
                       v > 0, F.pow(F.lit(2.0), b).cast("long"))
                   .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return df.select(F.col(key_col).alias("key"), sig.alias("simhash"))


def simhash_candidates(sig: DataFrame, n_bands: int = 4,
                       max_bucket_size: int | None = 10000,
                       max_hamming: int | None = None) -> DataFrame:
    """Banded hamming candidates with a recall GUARANTEE.

    The signature is split into ``n_bands`` disjoint bit bands; keys
    sharing any band collide. Pigeonhole: two signatures with hamming
    distance ≤ n_bands - 1 differ in at most n_bands - 1 bands, so at
    least one band matches exactly — every such pair is guaranteed a
    candidate (a single-prefix bucket misses pairs whose lone differing
    bit lands inside the prefix). ``max_bucket_size`` mirrors
    lsh_candidate_pairs: a band value shared by millions of boilerplate
    pages would otherwise go O(bucket²) in the self-join.

    ``max_hamming`` applies the verify threshold BEFORE the pair
    dedup: the hamming distance is a per-pair deterministic value, so
    filter-then-distinct is value-identical to distinct-then-filter —
    but the distinct (the one pair-sized shuffle here) then carries
    only the verified pairs instead of every band collision (~13× fewer
    rows at sf0.1). Callers wanting the full candidate set with
    distances (recall studies) leave it None.

    The (key, simhash) signature table is localCheckpointed once (it
    feeds the group aggregate AND both expansion legs — the SimHash fold
    is an INTERPRETED higher-order aggregate, the most expensive kind of
    projection to compute three times). Same shared-leg rationale as
    jaccard_pairs / bm25_scores.

    The self-join and the pair dedup run in SIGNATURE space, not doc
    space (guide §2.3/§8: decide with small rows, expand once): docs
    with byte-identical signatures — the common case in a near-dup
    corpus, where one hot signature can cover hundreds of pages — are
    collapsed to one row each before banding, so the band self-join
    emits one row per DISTINCT-signature pair instead of one per doc
    pair per shared band, and the dedup shuffle carries signature pairs
    (thousands) instead of doc pairs (millions). Doc pairs are expanded
    back afterwards by two joins against the signature table — output-
    sized, no intermediate blow-up. Measured sf0.1: 9.5M joined doc
    rows → 3.6M dedup input → 1.57M pairs became ~300k signature rows
    end to end, 3.0 s → 1.15 s, output value-identical (full pair-set
    equality checked). The hot-bucket cap is unchanged semantically:
    bucket size = Σ group sizes = the doc-row count the per-doc
    formulation counted.

    Precondition: ``sig`` holds one row per ``key``. The pair dedup runs
    on signature pairs, not on the expanded doc pairs, so a repeated key
    comes back as repeated ``(key_a, key_b)`` rows. Every caller in this
    package passes unique keys; deduplicate ``sig`` on ``key`` first
    when the input may repeat them.
    """
    sig = sig.localCheckpoint(eager=False)
    groups = sig.groupBy("simhash").agg(F.count(F.lit(1)).alias("_gn"))
    band_bits = SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    bands = F.array(*[
        F.concat_ws("|", F.lit(str(i)),
                    (F.shiftright("simhash", i * band_bits)
                     .bitwiseAND(F.lit(mask))).cast("string"))
        for i in range(n_bands)])
    banded = groups.select("simhash", "_gn", F.explode(bands).alias("band"))
    if max_bucket_size is not None:
        w = Window.partitionBy("band")
        banded = (banded
                  .withColumn("_bn", F.sum("_gn").over(w))
                  .filter(F.col("_bn") <= max_bucket_size)
                  .drop("_bn"))
    banded = banded.localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    # signature pairs sharing any band; a signature pairs with ITSELF
    # only when its group holds ≥ 2 docs (the hamming-0 doc pairs).
    # eqNullSafe: NULL-signature docs (null text) band together under
    # the bare "i" band string and must still self-pair when
    # max_hamming is None, exactly as the per-doc formulation did — a
    # plain == would null out the predicate and silently drop them
    sp = (a.join(b, "band")
          .filter((F.col("a.simhash") < F.col("b.simhash"))
                  | (F.col("a.simhash").eqNullSafe(F.col("b.simhash"))
                     & (F.col("a._gn") > 1)))
          .select(F.col("a.simhash").alias("sa"),
                  F.col("b.simhash").alias("sb")))
    sig_ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    if max_hamming is not None:
        # per-pair deterministic value: filter-then-distinct is value-
        # identical to distinct-then-filter, and the dedup shuffle then
        # carries only verified signature pairs
        sp = sp.filter(sig_ham <= max_hamming)
    sp = sp.distinct()
    # null-safe expansion joins for the same reason (a plain equi-join
    # never matches a NULL key)
    ma = sig.select(F.col("simhash").alias("_msa"),
                    F.col("key").alias("ka"))
    mb = sig.select(F.col("simhash").alias("_msb"),
                    F.col("key").alias("kb"))
    pairs = (sp.join(ma, F.col("sa").eqNullSafe(F.col("_msa")))
             .join(mb, F.col("sb").eqNullSafe(F.col("_msb")))
             .filter(~F.col("sa").eqNullSafe(F.col("sb"))
                     | (F.col("ka") < F.col("kb")))
             .select(F.least("ka", "kb").alias("key_a"),
                     F.greatest("ka", "kb").alias("key_b"),
                     F.when(F.col("ka") < F.col("kb"), F.col("sa"))
                     .otherwise(F.col("sb")).alias("sim_a"),
                     F.when(F.col("ka") < F.col("kb"), F.col("sb"))
                     .otherwise(F.col("sa")).alias("sim_b")))
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return pairs.withColumn("hamming", hamming)


# rounds of plain min-label propagation before pointer jumping engages:
# near-clique dedup clusters converge inside this budget and never pay
# the extra per-round self-join; only long drift chains go logarithmic.
# (The seeded initial labeling counts as the first propagation round —
# see connected_components — so this is one lower than the r4-r6 value
# of 3: jumping engages at the same effective propagation depth.)
_JUMP_AFTER = 2


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """(key, component) over an undirected pair graph — dedup clusters.

    Near-dup pairs are only edges; production dedup needs the transitive
    closure (A~B, B~C ⇒ {A,B,C} one cluster, keep one canonical doc).
    Min-label propagation: every node repeatedly takes the min id among
    itself and its neighbors; converges in O(diameter) rounds (duplicate
    clusters are near-cliques → 2-3 rounds). Each round is one self-join
    + one aggregate; the loop stops when a round changes nothing (the
    convergence check is the only driver-side action, O(1) per round).
    ``component`` = min key of the cluster = the canonical id.

    Labels spread one hop per round, so long CHAINS (sequential template
    drift — doc A ~ B ~ C ~ … with no short-cut pairs) would need
    O(chain length) rounds. From round ``_JUMP_AFTER`` on, the loop adds
    POINTER JUMPING (comp := comp(comp), one extra self-join per round):
    reach then doubles per round, so convergence is O(log diameter) —
    a 60-hop drift chain closes in ~10 rounds instead of 60. The first
    rounds stay jump-free because real dedup clusters are near-cliques
    that converge in 2-3 rounds — the common case never pays the extra
    join.

    A graph that still hasn't converged after ``max_iter`` rounds
    (diameter beyond ~2^(max_iter - _JUMP_AFTER) — pathological) raises
    instead of returning silently SPLIT components (detected by the
    same O(1)-row probe the loop already runs). The loop runs up to
    ``max_iter`` propagation rounds PLUS one confirmation round: a
    graph converging exactly on the last round must not be mistaken
    for a cap exit.
    """
    e = pairs.select(F.col("key_a").alias("src"),
                     F.col("key_b").alias("dst"))
    edges = (e.union(e.select(F.col("dst").alias("src"),
                              F.col("src").alias("dst"))))
    # materialize the edge list ONCE, EAGERLY: pairs usually derive
    # from an expensive verify stage (inverted-index join) that must
    # not be recomputed inside any propagation round — and round 0 can
    # schedule two independent map stages over edges (the seed
    # aggregation and the join's exchange when labels don't broadcast),
    # whose concurrent tasks would each recompute a not-yet-cached
    # lazy-checkpoint partition. One up-front job guarantees the verify
    # lineage runs exactly once; the seed and per-round checkpoints
    # stay lazy (their lineage is one step over materialized edges).
    edges = edges.localCheckpoint()
    # SEEDED initial labeling: comp₀ = min(self, neighbors). This is
    # exactly what the first propagation round would produce from the
    # identity labeling, but costs ONE aggregation over the checkpointed
    # edge list instead of a distinct + join + aggregate round (edges
    # are symmetric, so every node appears as src and min(dst) is the
    # min neighbor). The loop below then starts one propagation level
    # deeper — same label trajectory as before, one fewer round of
    # (join + aggregate + join + checkpoint + probe) per call.
    labels = (edges.groupBy(F.col("src").alias("key"))
              .agg(F.min("dst").alias("_m"))
              .select("key", F.least("key", "_m").alias("comp"))
              .localCheckpoint(eager=False))
    changed = 1
    for rnd in range(max_iter + 1):   # +1: the zero-change proof round
        nbr_min = (edges
                   .join(labels.withColumnRenamed("key", "dst"), "dst")
                   .groupBy(F.col("src").alias("key"))
                   .agg(F.min("comp").alias("nbr_comp")))
        # the change flag rides along in the SAME projection (label
        # shrank ⇔ a neighbor had a smaller comp), so the convergence
        # probe below is a filter over the already-materialized
        # checkpoint instead of a join of new vs old labels — one fewer
        # join + two fewer table scans per round
        new_labels = (labels.join(nbr_min, "key", "left")
                      .select("key",
                              F.least("comp", "nbr_comp").alias("comp"),
                              (F.col("nbr_comp").isNotNull()
                               & (F.col("nbr_comp") < F.col("comp")))
                              .alias("chg")))
        if rnd >= _JUMP_AFTER:
            # pointer jumping: comp := comp(comp). Every comp value is
            # itself a node key (labels start as self and only ever
            # take mins of other labels), so the left join always hits;
            # comp(comp) ≤ comp by the same monotonicity, hence least()
            # only ever improves. Reach doubles per jumping round.
            jump = new_labels.select(F.col("key").alias("_jkey"),
                                     F.col("comp").alias("_jcomp"))
            new_labels = (new_labels
                          .join(jump,
                                new_labels["comp"] == jump["_jkey"],
                                "left")
                          .select("key",
                                  F.least("comp", "_jcomp").alias("comp"),
                                  (F.col("chg")
                                   | F.coalesce(
                                       F.col("_jcomp") < F.col("comp"),
                                       F.lit(False)))
                                  .alias("chg")))
        # LAZY checkpoint + UNLIMITED count: the count computes every
        # partition, so the one job both materializes the checkpoint
        # (cutting the iterative lineage) and returns the convergence
        # probe — the eager-checkpoint formulation paid two jobs per
        # round for the same two effects. No limit(1): a limited count
        # could short-circuit and leave checkpoint partitions
        # unmaterialized for the next round to recompute.
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = new_labels.filter("chg").count()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds the iteration cap); raise max_iter")
    return labels.select("key", F.col("comp").alias("component"))


__all__ = ["exact_dedup", "shingles", "gram_array",
           "minhash_signatures", "band_keys", "lsh_candidate_pairs",
           "jaccard_pairs", "minhash_lsh_dedup", "incremental_dedup",
           "resolve_canonicals", "snapshot_admission",
           "simhash", "simhash_candidates", "connected_components",
           "fingerprint", "normalize_text"]
