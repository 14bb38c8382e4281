"""Surrogate-key assignment (SURVEY.md §2.E W1/W2, §7.3).

Three realizations behind one API:

- ``with_surrogate_key_dense``: ``row_number`` over a global window +
  offset — byte-faithful to ``Scd_Type2.sql:33-34`` (dense, ordered,
  continues from the current max). A global window funnels all rows
  through ONE task; correct and fine at dimension scale (≤ tens of
  millions), wrong for 100 TB facts.
- ``with_surrogate_key_ranged``: the same keys ordered by one column,
  bucketed by that column's value and ranked per bucket
  (``cumulative.row_number_ranged``) — the form SCD2 uses.
- ``with_surrogate_key_scalable``: dense keys in no business order,
  bucketed by a hash of the whole row and ranked per bucket by every
  column — the form Silver and fact builds use.

Both bucketed forms are one lazy plan: a row's bucket and its rank in
the bucket are functions of its values, so building runs no Spark job
and any re-evaluation gives every row the same key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .cumulative import row_number_ranged, with_bucket_base


def with_surrogate_key_dense(
    df: DataFrame, order_col: str, sk_col: str, offset: int = 0
) -> DataFrame:
    """W1: sk = row_number() over (order by order_col) + offset.

    GLOBAL WINDOW — every row funnels through one task. This is the
    byte-faithful oracle-parity twin for DIMENSION-scale frames only;
    NEVER call it from fact builds or anything corpus-sized. Fact and
    SCD2 paths must use :func:`with_surrogate_key_ranged` (identical
    dense semantics, shuffle-parallel) or
    :func:`with_surrogate_key_scalable`."""
    w = Window.orderBy(order_col)
    return df.withColumn(sk_col, F.row_number().over(w) + F.lit(offset))


def with_surrogate_key_scalable(df: DataFrame, sk_col: str, offset: int = 0) -> DataFrame:
    """Dense keys ``offset + 1 ..`` without a global window: each row's
    bucket is ``pmod(xxhash64(all columns), n)``, its rank inside the
    bucket orders by every column, and the bucket's base is the row
    count of the buckets before it. Identical rows tie, and any order
    of a tie gives the same rows the same keys, so the result is a
    function of the frame's content (and n, the default parallelism).
    The bucket counts are read off the ranked frame (its largest rank
    per bucket), so both branches of the plan share one shuffle and
    the input is evaluated once."""
    cols = df.columns
    n = df.sparkSession.sparkContext.defaultParallelism
    w = Window.partitionBy("__pid").orderBy(*cols)
    ranked = df.withColumn("__pid", F.pmod(F.xxhash64(*cols), F.lit(n))).withColumn(
        "__rn", F.row_number().over(w)
    )
    return (
        with_bucket_base(ranked, F.max("__rn"), F.sum)
        .withColumn(sk_col, F.col("__rn") + F.coalesce(F.col("__base"), F.lit(0)) + offset)
        .drop("__pid", "__rn", "__base")
    )


def with_surrogate_key_ranged(
    df: DataFrame,
    order_col: str,
    sk_col: str,
    offset: int | Column = 0,
    partitions: int | None = None,
) -> DataFrame:
    """Dense ``row_number() OVER (ORDER BY order_col) + offset``
    WITHOUT the global single-task window: the one-column case of
    ``cumulative.row_number_ranged``. Exactly equivalent to
    ``with_surrogate_key_dense`` for unique keys, with sort and rank
    spread across all executors — the form SCD2 init/insert batches
    route through (``Scd_Type2.sql:33-34`` parity at any scale).
    ``offset`` may be a Column, e.g. the target's ``MAX(sk)`` as a
    scalar subquery."""
    return row_number_ranged(df, [(order_col, True)], sk_col, partitions, offset)


def max_key(df: DataFrame, sk_col: str, default: int = 0) -> int:
    """Scalar ``SELECT MAX(sk)`` (Scd_Type2.sql:34) as a Python int, one
    job on the driver. ``scd2_merge`` takes the same scalar in its plan
    instead; ``sk_continuation`` needs the number."""
    m = df.agg(F.max(sk_col)).first()[0]
    return int(m) if m is not None else default
