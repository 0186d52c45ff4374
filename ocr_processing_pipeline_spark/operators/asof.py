"""As-of (nearest/most-recent timestamp) join and forward-fill operators.

Spark lacks a native ASOF JOIN; these compose it from built-ins:

- ``asof_join_backward``: union-tag + window forward-fill — the classic
  sort-merge formulation. ONE shuffle (the window's partitionBy+orderBy);
  never a range cross-join. This is J3 from SURVEY §2.3: the reference
  assigns doc_ids to emissions rows by nearest log-transition timestamp
  (Monitoring/log_parser.py:37-51).
- ``forward_fill`` / ``change_points``: W7 — lag-based change detection and
  last(ignorenulls) propagation (Monitoring/log_parser.py:23-35,53-72).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_backward(left: DataFrame, right: DataFrame,
                       on: str, left_ts: str, right_ts: str,
                       value_cols: list[str]) -> DataFrame:
    """For each left row, attach the latest right row with ts ≤ left ts,
    per ``on`` key. DuckDB equivalent: ``ASOF JOIN``.

    Implementation: union both sides tagged, one window sort per key,
    forward-fill the right values, keep left rows.

    Determinism caveat: if the right side has DUPLICATE (on, right_ts)
    rows, which of them wins is partition-order-dependent — dedup the
    right side first (row_number over a total order), as DuckDB's ASOF
    JOIN requires too. tests/test_asof_property.py pins the semantics
    against DuckDB on random inputs under that precondition.
    """
    l_cols = left.columns
    lt = left.withColumn("_ts", F.col(left_ts)).withColumn(
        "_side", F.lit(1))
    rt = right.select(
        F.col(on),
        F.col(right_ts).alias("_ts"),
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
    ).withColumn("_side", F.lit(0))
    for c in l_cols:
        if c not in (on,):
            rt = rt.withColumn(c, F.lit(None))
    for c in value_cols:
        lt = lt.withColumn(f"_r_{c}", F.lit(None))
    unioned = lt.unionByName(rt.select(lt.columns))
    # right rows sort before left rows at equal ts (_side 0 < 1) so a
    # same-timestamp right row is visible to the left row (≤ semantics)
    w = (Window.partitionBy(on).orderBy("_ts", "_side")
         .rowsBetween(Window.unboundedPreceding, 0))
    filled = unioned
    for c in value_cols:
        filled = filled.withColumn(
            f"_r_{c}", F.last(f"_r_{c}", ignorenulls=True).over(w))
    out = (filled.filter(F.col("_side") == 1)
           .select(*l_cols,
                   *[F.col(f"_r_{c}").alias(c) for c in value_cols]))
    return out


def change_points(df: DataFrame, key: str, order_by: str,
                  watch_col: str) -> DataFrame:
    """Rows where ``watch_col`` differs from its predecessor (W7 lag)."""
    w = Window.partitionBy(key).orderBy(order_by)
    return (df
            .withColumn("_prev", F.lag(watch_col).over(w))
            .filter(F.col("_prev").isNull()
                    | (F.col(watch_col) != F.col("_prev")))
            .drop("_prev"))


def forward_fill(df: DataFrame, key: str, order_by: str,
                 fill_col: str) -> DataFrame:
    """Propagate the last non-null value forward within each key."""
    w = (Window.partitionBy(key).orderBy(order_by)
         .rowsBetween(Window.unboundedPreceding, 0))
    return df.withColumn(
        fill_col, F.last(fill_col, ignorenulls=True).over(w))


__all__ = ["asof_join_backward", "change_points", "forward_fill"]
