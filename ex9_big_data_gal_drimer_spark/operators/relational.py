"""Relational composition operators (SURVEY.md §2.3/§2.4/§2.6).

percent_of_total implements J1+A7 — the reference's cross join of a
grouped result with its own 1-row global aggregate (reference
main.py:50,72) — in two physical forms:

- mode="window" (default): ``SUM(value) OVER ()`` on the post-agg
  rows.  ONE pass over the input subtree; the unpartitioned window is
  safe because it runs on already-aggregated data (≤ #groups rows).
  The cross-join form re-executes the whole upstream subtree for the
  total (observed live: q1's plan scanned orders⋈customer⋈nation
  twice) — the same double-execution the reference's pipeline has
  (main.py:250+269), which this engine deliberately avoids.
- mode="crossjoin": literal reference shape — broadcast cross join of
  the 1-row total; kept for parity demonstration and for inputs too
  large to window in one partition *before* aggregation.

Both produce identical results; the DuckDB oracles stay in cross-join
SQL (results, not plans, are compared).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def with_total(
    df: DataFrame,
    value_col: str,
    total_col: str,
    mode: str = "window",
) -> DataFrame:
    """Attach the global SUM(value_col) to every row as total_col."""
    if mode == "window":
        return df.withColumn(
            total_col, F.sum(value_col).over(Window.partitionBy())
        )
    if mode == "crossjoin":
        total = df.agg(F.sum(value_col).alias(total_col))
        return df.crossJoin(F.broadcast(total))
    raise ValueError(f"unknown mode: {mode}")


def percent_of_total(
    df: DataFrame,
    value_col: str,
    pct_col: str = "pct_of_total",
    total_col: str | None = None,
    scale: int = 2,
    mode: str = "window",
) -> DataFrame:
    """Add ``ROUND(value*100/total, scale)`` (and optionally the total).

    The total column is LongType when the input is integral (matching
    the oracle's CAST(SUM(...) AS BIGINT))."""
    keep_total = total_col is not None
    total_col = total_col or "__total"
    out = with_total(df, value_col, total_col, mode)
    integral = dict(df.dtypes)[value_col] in ("int", "bigint", "smallint", "tinyint")
    if integral:
        out = out.withColumn(total_col, F.col(total_col).cast("long"))
    out = out.withColumn(
        pct_col, F.round(F.col(value_col) * 100.0 / F.col(total_col), scale)
    )
    return out if keep_total else out.drop(total_col)


def sorted_small(df: DataFrame, *order_cols) -> DataFrame:
    """Globally ordered output for a SMALL (post-aggregate) frame.

    A plain ``orderBy`` without LIMIT plans a range-partitioned
    exchange, whose partitioner SAMPLES the input in a separate Spark
    job — pure overhead when the input is a few dozen post-agg rows
    (the flagship queries' tails).  ``coalesce(1)`` + a within-
    partition sort gives the identical global order with no sampling
    pass and no exchange.  Only for frames known small by construction
    (post-aggregate, ≤ thousands of rows) — on a large frame coalesce
    would serialize the sort."""
    return df.coalesce(1).sortWithinPartitions(*order_cols)


def others_bucket(
    df: DataFrame,
    name_col: str,
    value_col: str,
    n: int,
    others_label: str = "Others",
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Top-n rows by value + one residual 'Others' row (reference
    main.py:174-179, the pie-chart prep) — single window pass +
    re-aggregation instead of the reference's pandas concat.
    Pass tiebreak_cols for a deterministic cut at equal values."""
    w = Window.orderBy(F.desc(value_col), *tiebreak_cols)
    ranked = df.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.withColumn(
            name_col,
            F.when(F.col("__rn") <= n, F.col(name_col)).otherwise(
                F.lit(others_label)
            ),
        )
        .groupBy(name_col)
        .agg(F.sum(value_col).alias(value_col))
        .orderBy(F.desc(value_col))
    )
