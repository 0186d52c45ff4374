"""Explicit skew handling: key salting for aggregations and joins.

The corpus is host-skewed by construction (one host ≈ 50% of rows,
FIXTURES.md §1). Where a computation is keyed by host (per-host stats,
politeness buckets, host-level joins), a plain groupBy/join puts half the
corpus in one shuffle partition. Two standard remedies, both built-ins
only:

- ``salted_groupby``: two-phase aggregation — partial agg on
  (key, salt = pmod(xxhash64(url), S)), then final agg on key. The first
  shuffle spreads the hot key over S partitions; the second is tiny
  (S rows per key).
- ``salted_broadcast_left``: replicate-broadcast join — salt the big side,
  explode the small side × S, equi-join on (key, salt). For small dims
  prefer plain ``F.broadcast`` (no salt needed); this is the pattern for
  when the dim is too big to broadcast but the join key is skewed.

For everything else AQE's skew-join splitting (enabled in session.py) is
the first line of defense; these operators are for the aggregation case
AQE does not cover and for deterministic partition-size guarantees.

(The main pipeline itself avoids the problem at the root: its one shuffle
is keyed by pmod(xxhash64(url), N), uniform under any host skew —
SURVEY §4.2.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 16


def with_salt(df: DataFrame, salt_source_col: str) -> DataFrame:
    """Adds ``_salt``, a deterministic salt in [0, DEFAULT_SALTS) from a
    high-cardinality column (e.g. url)."""
    return df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col(salt_source_col)), F.lit(DEFAULT_SALTS))
        .cast("int"))


def salted_groupby(df: DataFrame, key_cols: list[str], aggs: dict,
                   salt_source_col: str) -> DataFrame:
    """Two-phase skew-proof aggregation.

    ``aggs``: {out_name: (fn_name, col)} with fn_name in
    {sum, count, min, max} — the decomposable aggregates (avg = sum/count
    composed by the caller).
    """
    partial_exprs = []
    final_exprs = []
    for out, (fn, col) in aggs.items():
        if fn == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(f"_p_{out}"))
            final_exprs.append(F.sum(f"_p_{out}").cast("long").alias(out))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(f"_p_{out}"))
            final_exprs.append(F.sum(f"_p_{out}").alias(out))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(f"_p_{out}"))
            final_exprs.append(F.min(f"_p_{out}").alias(out))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(f"_p_{out}"))
            final_exprs.append(F.max(f"_p_{out}").alias(out))
        else:
            raise ValueError(f"non-decomposable aggregate: {fn}")
    salted = with_salt(df, salt_source_col)
    partial = salted.groupBy(*key_cols, "_salt").agg(*partial_exprs)
    return partial.groupBy(*key_cols).agg(*final_exprs)


def salted_broadcast_left(big: DataFrame, small: DataFrame, key: str,
                          salt_source_col: str) -> DataFrame:
    """Skew-proof equi-join: salt the big side, replicate the small side
    ×DEFAULT_SALTS, join on (key, salt). Falls back to a plain broadcast hash
    join physically when the replicated small side still fits."""
    big_s = with_salt(big, salt_source_col)
    small_r = (small
               .withColumn("_salt", F.explode(F.sequence(
                   F.lit(0), F.lit(DEFAULT_SALTS - 1))))
               .withColumn("_salt", F.col("_salt").cast("int")))
    return (big_s.join(F.broadcast(small_r), [key, "_salt"])
            .drop("_salt"))


__all__ = ["with_salt", "salted_groupby", "salted_broadcast_left",
           "DEFAULT_SALTS"]
