"""Globally-ordered running aggregates WITHOUT a single-task window.

``SUM(x) OVER (ORDER BY k)`` / ``ROW_NUMBER() OVER (ORDER BY k)``
with no PARTITION BY funnels every row through ONE task — fine for a
demo, a straggler on a 100M-row dimension and a scale-killer on facts.
These helpers build the identical result as one lazy plan:

1. each row gets a bucket ``__pid``: how many range boundaries sort
   before its leading order value. The boundaries are a value sample
   of the leading column (the values whose ``xxhash64`` is 0 mod 64,
   sorted and thinned to at most n), a one-row aggregate in the same
   plan. Bucket p's rows all sort before bucket p+1's;
2. per-bucket partials (count, sum or max), prefix-combined over the
   earlier buckets inside the plan and broadcast back;
3. a ``PARTITION BY __pid`` window plus that base.

A row's bucket depends on its values only, so building runs no Spark
job and every evaluation sees the same buckets. The bucketed frame is
an evictable performance pin, so the partials and the window read one
evaluation. Parallelism follows how spread out the leading value is (a
constant lead gives one bucket); correctness does not depend on it.

``order`` is a sequence of ``(column, ascending)`` pairs; NULLs sort
first ascending and last descending, as in Spark. The ordering should
be total (add a tie-break column) for deterministic results.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from event_driven_data_pipeline_for_e_commerce_spark.operators.pinning import pin

Order = Sequence[tuple[str, bool]]

# one leading value in _SAMPLE (by hash, so the sample is a function of
# the values) is a boundary candidate
_SAMPLE = 64


def _sort_cols(order: Order) -> list[Column]:
    return [F.col(c).asc() if asc else F.col(c).desc() for c, asc in order]


def _bucketed(df: DataFrame, order: Order, partitions: int | None) -> DataFrame:
    """``df`` with each row's bucket ``__pid``: how many boundaries
    sort before its leading value. The one-row boundary aggregate is
    broadcast and cross-joined (a subquery cannot feed the lambda)."""
    lead, asc = order[0]
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    k = F.greatest(F.ceil(F.size("__s") / n), F.lit(1))
    bounds = (
        df.filter(F.xxhash64(lead) % _SAMPLE == 0)
        .agg(F.array_sort(F.collect_set(lead)).alias("__s"))
        .select(F.filter("__s", lambda _, i: i % k == k - 1).alias("__bounds"))
    )
    below = F.size(F.filter("__bounds", lambda b: b < F.col(lead)))
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("__pid", below if asc else F.size("__bounds") - below)
        .drop("__bounds")
    )


def with_bucket_base(
    part: DataFrame, partial: Column, combine: Callable[[Column], Column]
) -> DataFrame:
    """Attach ``__base`` to ``part``, a frame carrying its bucket
    ``__pid``: ``combine`` (``F.sum`` or ``F.max``) of the per-bucket
    aggregate ``partial`` over every bucket before the row's own, NULL
    in the first bucket. The one-row-per-bucket partials table is
    joined to itself on ``earlier.__pid < __pid``; grouping by the
    bucket's own partial too keeps both sides one subtree, which Spark
    runs once."""
    partials = part.groupBy("__pid").agg(partial.alias("__v"))
    earlier = partials.select(F.col("__pid").alias("__e"), F.col("__v").alias("__ev"))
    bases = (
        partials.join(F.broadcast(earlier), F.col("__e") < F.col("__pid"), "left")
        .groupBy("__pid", "__v")
        .agg(combine(F.col("__ev")).alias("__base"))
        .drop("__v")
    )
    return part.join(F.broadcast(bases), "__pid")


def running_sum_ranged(
    df: DataFrame,
    order: Order,
    value_col: str,
    out_col: str,
    partitions: int | None = None,
) -> DataFrame:
    """``SUM(value_col) OVER (ORDER BY order ROWS UNBOUNDED
    PRECEDING)`` with the global sort spread across all executors.
    ``value_col`` should be integral: a float sum adds in another
    order than the global window does."""
    based = with_bucket_base(pin(_bucketed(df, order, partitions)), F.sum(value_col), F.sum)
    w = (
        Window.partitionBy("__pid")
        .orderBy(*_sort_cols(order))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    inner, base = F.sum(value_col).over(w), F.col("__base")
    return based.withColumn(out_col, F.coalesce(inner + base, inner, base)).drop(
        "__pid", "__base"
    )


def row_number_ranged(
    df: DataFrame,
    order: Order,
    out_col: str,
    partitions: int | None = None,
    offset: int | Column = 0,
) -> DataFrame:
    """``ROW_NUMBER() OVER (ORDER BY order) + offset`` with the global
    sort spread across all executors; ``offset`` may be a Column (a
    scalar subquery, say). ``surrogate_keys.with_surrogate_key_ranged``
    is its one-column case."""
    based = with_bucket_base(pin(_bucketed(df, order, partitions)), F.count(F.lit(1)), F.sum)
    w = Window.partitionBy("__pid").orderBy(*_sort_cols(order))
    rank = F.row_number().over(w) + F.coalesce(F.col("__base"), F.lit(0)) + offset
    return based.withColumn(out_col, rank.cast("long")).drop("__pid", "__base")


def running_max_ranged(
    df: DataFrame,
    order: Order,
    value_col: str,
    out_col: str,
    inclusive: bool = True,
    partitions: int | None = None,
) -> DataFrame:
    """``MAX(value_col) OVER (ORDER BY order ROWS UNBOUNDED PRECEDING
    [AND 1 PRECEDING])`` with the global sort spread across all
    executors — the running-extreme sibling of ``running_sum_ranged``
    (any orderable type works, timestamps included). ``inclusive=False``
    gives the strictly-preceding frame (the watermark semantics: a
    row's high-water mark is the max of everything BEFORE it; the
    first row sees NULL).

    ``order`` should be a TOTAL ordering of the input rows (include
    ``value_col`` or a unique key as a tie-break): any ROWS frame that
    excludes the current row is order-dependent under ties, so a
    non-total ordering makes the result depend on the physical tie
    order (ADVICE r7)."""
    based = with_bucket_base(pin(_bucketed(df, order, partitions)), F.max(value_col), F.max)
    w = (
        Window.partitionBy("__pid")
        .orderBy(*_sort_cols(order))
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    return based.withColumn(
        out_col, F.greatest(F.max(value_col).over(w), F.col("__base"))
    ).drop("__pid", "__base")
