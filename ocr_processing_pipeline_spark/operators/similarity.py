"""Similarity search over embedding columns (array<float>).

Spark analogue of the reference's vector / hybrid search entry points
(Query/search.py:46-94, Query/layered_search.py:74-104) — minus model
inference (north rule): the embeddings are an input column.

Two paths:
- brute-force cosine top-k: built-in array math (zip_with + aggregate),
  JVM-side, no UDF — the correctness baseline. O(n·d) per query; fine for
  one query vector even at large n (single narrow pass + a top-k reduce).
- LSH-bucketed ANN (random hyperplanes, Charikar'02): deterministic
  hyperplanes derived from md5 so signatures are reproducible across runs
  and cluster sizes; probe buckets within hamming radius. The 100 TB path:
  candidate set ≈ n / 2^bits per probe instead of n.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# cosines and centroid components are rounded to this many places, so ties
# and top-k order are stable across runs and against the DuckDB oracle
VECTOR_DECIMALS = 5


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine_to(query_vec: list, col):
    """Column: cosine similarity of ``col`` (array) to a literal vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    casted = F.transform(col, lambda x: x.cast("double"))
    return (_dot(casted, q) / (_norm(casted) * _norm(q)))


def brute_force_topk(df: DataFrame, vec_col: str, key_col: str,
                     query_vec: list, k: int = 10) -> DataFrame:
    """Exact cosine top-k; deterministic tie-break on key."""
    return (df
            .select(F.col(key_col).alias("key"),
                    F.round(cosine_to(query_vec, F.col(vec_col)),
                            VECTOR_DECIMALS).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("key"))
            .limit(k))


# --- LSH ANN -----------------------------------------------------------------

def _hyperplane(dim: int, bit: int) -> list:
    """Deterministic pseudo-random hyperplane from md5 (no RNG state)."""
    import hashlib
    vals = []
    for d in range(dim):
        h = hashlib.md5(f"plane:{bit}:{d}".encode()).hexdigest()
        # map 8 hex chars → [-1, 1)
        vals.append(int(h[:8], 16) / 2**31 - 1.0)
    return vals


def lsh_signature(df: DataFrame, vec_col: str, key_col: str,
                  n_bits: int = 8, *, dim: int) -> DataFrame:
    """Random-hyperplane signature column 'sig' (int bucket id).

    ``dim`` is required: deriving it from ``df.first()`` would run a
    driver-side job inside plan construction (and fail on an empty
    table) — callers know their embedding width.
    """
    sig = F.lit(0)
    for b in range(n_bits):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, b)])
        casted = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        bit = F.when(_dot(casted, plane) >= 0, F.lit(1)).otherwise(F.lit(0))
        sig = sig + F.shiftleft(bit, b)
    return df.select(F.col(key_col).alias("key"),
                     F.col(vec_col).alias("vec"), sig.alias("sig"))


def ann_topk(df: DataFrame, vec_col: str, key_col: str, query_vec: list,
             k: int = 10, n_bits: int = 8,
             hamming_radius: int = 1) -> DataFrame:
    """ANN: probe LSH buckets within hamming radius of the query bucket,
    exact cosine re-rank inside candidates. Recall grows with radius."""
    import hashlib  # noqa: F401  (used indirectly via _hyperplane)
    dim = len(query_vec)
    sigs = lsh_signature(df, vec_col, key_col, n_bits=n_bits, dim=dim)
    # query signature computed driver-side with the same planes
    qsig = 0
    for b in range(n_bits):
        plane = _hyperplane(dim, b)
        dot = sum(float(x) * p for x, p in zip(query_vec, plane))
        if dot >= 0:
            qsig |= 1 << b
    probe = [s for s in range(2 ** n_bits)
             if bin(s ^ qsig).count("1") <= hamming_radius]
    cands = sigs.filter(F.col("sig").isin(probe))
    return (cands
            .select("key",
                    F.round(cosine_to(query_vec, F.col("vec")),
                            VECTOR_DECIMALS).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("key"))
            .limit(k))


def ivf_index(df: DataFrame, vec_col: str, key_col: str,
              n_cells: int = 16, iters: int = 2,
              *, dim: int) -> tuple:
    """IVF coarse quantizer: deterministic k-means (init = lowest keys),
    Lloyd iterations as DataFrame ops, returns (assigned_df, centroids).

    assigned_df: (key, vec, cell). centroids: driver-side list of
    (cell, vector) — k·dim floats, tiny. Training shuffles are
    broadcast-assign + per-dim avg aggregates (map-side partials);
    nothing quadratic. At 10^12 rows you train on a sample and assign
    the full table in one narrow pass — assignment here IS that pass.

    ``dim`` is required (no ``.first()`` probe): zero driver actions
    beyond the O(k·dim) centroid collects inherent to Lloyd training.
    """
    base = df.select(F.col(key_col).alias("key"),
                     F.transform(F.col(vec_col),
                                 lambda x: x.cast("double")).alias("vec"))
    cents = [r["vec"] for r in
             base.orderBy("key").limit(n_cells).collect()]

    def assign(centroids) -> DataFrame:
        # argmin over an ARRAY of distances, not a chain of nested whens:
        # when-chains double the expression tree per centroid (best_d
        # appears in its own successor's condition AND else-branch),
        # which is 2^k nodes at k cells — codegen stalled at k=16. The
        # array form is linear (k×dim), and naming d2s in a projection
        # keeps array_min/array_position from duplicating the tree.
        # array_position returns the FIRST index of the min → ties break
        # to the lowest cell, matching the oracle's ORDER BY dist, cell.
        # NULL/malformed vectors get NULL distances → cell -1, an
        # explicit quarantine cell no probe ever selects (visible via
        # cell == -1) rather than a silent drop.
        arrs = [F.array(*[F.lit(float(v)) for v in c]) for c in centroids]
        d2 = [F.aggregate(F.zip_with(F.col("vec"), a,
                                     lambda x, y: (x - y) * (x - y)),
                          F.lit(0.0), lambda acc, v: acc + v)
              for a in arrs]
        return (base.withColumn("d2s", F.array(*d2))
                .withColumn("cell",
                            F.coalesce(
                                (F.array_position(
                                    "d2s", F.array_min("d2s")) - 1)
                                .cast("int"),
                                F.lit(-1)))
                .drop("d2s"))

    for _ in range(iters):
        assigned = assign(cents)
        aggs = [F.avg(F.col("vec")[i]).alias(f"m{i}") for i in range(dim)]
        new = (assigned.groupBy("cell").agg(*aggs)
               .orderBy("cell").collect())
        by_cell = {r["cell"]: [r[f"m{i}"] for i in range(dim)]
                   for r in new}
        cents = [by_cell.get(i, cents[i]) for i in range(len(cents))]
    return assign(cents), cents


def ivf_topk(df: DataFrame, vec_col: str, key_col: str, query_vec: list,
             k: int = 10, n_cells: int = 16, n_probe: int = 4,
             iters: int = 2) -> DataFrame:
    """IVF ANN: probe the n_probe nearest cells, exact cosine re-rank
    inside them. Candidate fraction ≈ n_probe/n_cells of the corpus."""
    assigned, cents = ivf_index(df, vec_col, key_col,
                                n_cells=n_cells, iters=iters,
                                dim=len(query_vec))
    q = [float(x) for x in query_vec]

    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    probe = sorted(range(len(cents)),
                   key=lambda i: (l2(q, cents[i]), i))[:n_probe]
    cands = assigned.filter(F.col("cell").isin(probe))
    return (cands
            .select("key",
                    F.round(cosine_to(q, F.col("vec")), VECTOR_DECIMALS)
                    .alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("key"))
            .limit(k))


def label_centroids(df: DataFrame, vec_col: str, label_col: str,
                    *, dim: int) -> DataFrame:
    """Element-wise mean vector per label.

    Scale path: one avg aggregate per dimension — map-side partial
    aggregation, ONE shuffle of (n_labels × dim) partials. The naive
    posexplode formulation shuffles n_rows × dim exploded rows (64× the
    data at dim=64); never do that at 10^12 rows.

    ``dim`` is required: a ``.first()`` probe would be a driver action
    inside plan construction.
    """
    aggs = [F.round(F.avg(F.col(vec_col)[i].cast("double")),
                    VECTOR_DECIMALS).alias(f"m{i}") for i in range(dim)]
    return (df.groupBy(F.col(label_col).alias("label"))
            .agg(*aggs)
            .select("label",
                    F.array(*[F.col(f"m{i}") for i in range(dim)])
                    .alias("centroid")))


def near_dup_pairs_by_label(df: DataFrame, vec_col: str, label_col: str,
                            key_col: str, min_cos: float = 0.3,
                            max_label_size: int | None = 10000) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label.

    Blocking avoids the n² cross join, but one skewed label would still go
    O(label²): ``max_label_size`` drops labels above the cap BEFORE the
    self-join (the hot-bucket guard of dedup.lsh_candidate_pairs, mirrored
    here). Dropped labels are duplicate-class-sized clusters — handle them
    with exact dedup/centroids, not all-pairs cosine.

    Returns (label, key_a, key_b, cos) with key_a < key_b, cos ≥ min_cos.
    """
    e = df.select(F.col(label_col).alias("label"),
                  F.col(key_col).alias("key"),
                  F.col(vec_col).alias("vec"))
    if max_label_size is not None:
        ok = (e.groupBy("label")
              .agg(F.count(F.lit(1)).alias("_n"))
              .filter(F.col("_n") <= max_label_size)
              .select("label"))
        e = e.join(F.broadcast(ok), "label", "left_semi")
    # cast + norm once per ROW before the self-join: per pair only the
    # dot-product fold remains (vs 3 array folds when norms are inline)
    ed = e.select("label", "key",
                  F.transform("vec", lambda x: x.cast("double"))
                  .alias("vec"))
    ed = ed.withColumn("nrm", _norm(F.col("vec")))
    # ...and materialize that projection once: BOTH self-join legs
    # otherwise re-run the hot-label aggregate + the interpreted norm
    # fold (r7 plan audit: 4 scans of the embeddings table in one
    # query).
    ed = ed.localCheckpoint(eager=False)
    a = ed.select("label", F.col("key").alias("key_a"),
                  F.col("vec").alias("va"), F.col("nrm").alias("na"))
    b = ed.select("label", F.col("key").alias("key_b"),
                  F.col("vec").alias("vb"), F.col("nrm").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (a.join(b, "label")
            .filter(F.col("key_a") < F.col("key_b"))
            .withColumn("cos", cos)
            .filter(F.col("cos") >= min_cos)
            .select("label", "key_a", "key_b", "cos"))


__all__ = ["brute_force_topk", "ann_topk", "lsh_signature",
           "ivf_index", "ivf_topk", "label_centroids", "cosine_to",
           "near_dup_pairs_by_label", "VECTOR_DECIMALS"]
