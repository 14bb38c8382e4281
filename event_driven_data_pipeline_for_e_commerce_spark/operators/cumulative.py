"""Globally-ordered running aggregates WITHOUT a single-task window.

``SUM(x) OVER (ORDER BY k)`` / ``ROW_NUMBER() OVER (ORDER BY k)``
with no PARTITION BY funnels every row through ONE task — fine for a
demo, a straggler on a 100M-row dimension and a scale-killer on facts.
These helpers realize the identical semantics as a two-pass plan:

1. ``repartitionByRange`` on the ordering expressions — partition p's
   keys all sort before partition p+1's, so global order is the
   concatenation of per-partition orders;
2. ONE per-partition partial (sum or count) collected driver-side —
   #partitions scalars, not data — and prefix-summed into per-partition
   base offsets;
3. a ``PARTITION BY __pid`` window (shuffle-parallel across all
   executors) plus the broadcast base.

Same shape as ``operators.surrogate_keys.with_surrogate_key_ranged``
(which is the single-order-column ROW_NUMBER special case), extended
to arbitrary multi-column ASC/DESC orderings and running sums. The
``persist`` pins the sampled range boundaries so the counts job and
the window job agree on partition membership (repartitionByRange
re-samples per evaluation otherwise).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from event_driven_data_pipeline_for_e_commerce_spark.operators.pinning import pin
from event_driven_data_pipeline_for_e_commerce_spark.operators.surrogate_keys import (
    partition_bases,
)


def _range_pinned(
    df: DataFrame, order_exprs: Sequence[Column], partitions: int | None
) -> DataFrame:
    """Range-partition ``df`` by ``order_exprs``, tag each row with its
    ``__pid`` and pin it. The pin is critical: ``repartitionByRange``
    re-samples its boundaries per evaluation, so without it the
    partials job and the window job could disagree on which partition
    a row lives in and every base would be wrong."""
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return pin(
        df.repartitionByRange(n, *order_exprs)
        .withColumn("__pid", F.spark_partition_id()),
        critical=True,
    )


def _ranged_with_bases(
    df: DataFrame,
    order_exprs: Sequence[Column],
    partial_expr: Column,
    partitions: int | None,
    offset: int = 0,
) -> DataFrame:
    """Range-partition and pin ``df`` by ``order_exprs``, then attach
    each partition's ``__base``: ``offset`` plus the prefix sum of
    ``partial_expr`` over the partitions before it
    (``surrogate_keys.partition_bases``). Returns the pinned frame with
    ``__pid`` and ``__base`` attached."""
    return partition_bases(_range_pinned(df, order_exprs, partitions), partial_expr, offset)


def running_sum_ranged(
    df: DataFrame,
    order_exprs: Sequence[Column],
    value_col: str,
    out_col: str,
    partitions: int | None = None,
) -> DataFrame:
    """``SUM(value_col) OVER (ORDER BY order_exprs ROWS UNBOUNDED
    PRECEDING)`` with the global sort spread across all executors.
    ``value_col`` must be integral (the driver-side prefix sum is
    exact integer arithmetic); the ordering should be total (add a
    tie-break column) for deterministic results."""
    based = _ranged_with_bases(
        df, order_exprs, F.sum(value_col).cast("long"), partitions
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return based.withColumn(
        out_col, F.sum(value_col).over(w) + F.col("__base")
    ).drop("__pid", "__base")


def row_number_ranged(
    df: DataFrame,
    order_exprs: Sequence[Column],
    out_col: str,
    partitions: int | None = None,
    offset: int = 0,
) -> DataFrame:
    """``ROW_NUMBER() OVER (ORDER BY order_exprs) + offset`` with the
    global sort spread across all executors — the multi-column
    generalization of ``surrogate_keys.with_surrogate_key_ranged``,
    which calls it with one order column. The ordering should be total
    for deterministic ranks."""
    based = _ranged_with_bases(
        df, order_exprs, F.count(F.lit(1)), partitions, offset
    )
    w = Window.partitionBy("__pid").orderBy(*order_exprs)
    return based.withColumn(
        out_col, (F.row_number().over(w) + F.col("__base")).cast("long")
    ).drop("__pid", "__base")


def running_max_ranged(
    df: DataFrame,
    order_exprs: Sequence[Column],
    value_col: str,
    out_col: str,
    inclusive: bool = True,
    partitions: int | None = None,
) -> DataFrame:
    """``MAX(value_col) OVER (ORDER BY order_exprs ROWS UNBOUNDED
    PRECEDING [AND 1 PRECEDING])`` with the global sort spread across
    all executors — the running-extreme sibling of
    ``running_sum_ranged`` (same two-pass shape; the driver-side
    prefix is a max over #partitions scalars instead of a sum, so any
    orderable type works — timestamps included). ``inclusive=False``
    gives the strictly-preceding frame (the watermark semantics: a
    row's high-water mark is the max of everything BEFORE it; the
    first row sees NULL).

    ``order_exprs`` should be a TOTAL ordering of the input rows
    (include ``value_col`` or a unique key as a tie-break): any ROWS
    frame that excludes the current row is order-dependent under
    ties, so a non-total ordering makes the result depend on the
    physical tie order (ADVICE r7)."""
    part = _range_pinned(df, order_exprs, partitions)
    partials = {
        r["__pid"]: r["v"]
        for r in part.groupBy("__pid")
        .agg(F.max(value_col).alias("v"))
        .collect()
    }
    value_type = dict(zip(part.schema.names, part.schema.fields))[
        value_col
    ].dataType
    bases, cur = [], None
    for pid in sorted(partials):
        bases.append((int(pid), cur))  # max of strictly PRIOR partitions
        v = partials[pid]
        if v is not None and (cur is None or v > cur):
            cur = v
    from pyspark.sql.types import IntegerType, StructField, StructType

    base_df = part.sparkSession.createDataFrame(
        bases,
        StructType(
            [
                StructField("__pid", IntegerType(), False),
                StructField("__basemax", value_type, True),
            ]
        ),
    )
    hi = 0 if inclusive else -1
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    return (
        part.join(F.broadcast(base_df), "__pid")
        .withColumn(
            out_col, F.greatest(F.max(value_col).over(w), F.col("__basemax"))
        )
        .drop("__pid", "__basemax")
    )
