"""Surrogate-key assignment (SURVEY.md §2.E W1/W2, §7.3).

Two realizations behind one API:

- ``with_surrogate_key_dense``: ``row_number`` over a global window +
  offset — byte-faithful to ``Scd_Type2.sql:33-34`` (dense, ordered,
  continues from the current max). A global window funnels all rows
  through ONE task; correct and fine at dimension scale (≤ tens of
  millions), wrong for 100 TB facts.
- ``with_surrogate_key_scalable``: per-partition counts + offset
  composition (the zipWithIndex trick expressed on DataFrames). Dense
  and deterministic given a pre-sorted input, no single-task funnel —
  this is the variant fact builds use.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from event_driven_data_pipeline_for_e_commerce_spark.operators.pinning import pin


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


def partition_bases(part: DataFrame, partial: Column, offset: int = 0) -> DataFrame:
    """Attach ``__base`` to ``part``, a pinned frame carrying its
    ``__pid``: ``offset`` plus the running total of the integral
    aggregate ``partial`` over the partitions before this one. The
    per-partition partials are collected in one job (#partitions
    scalars, not data), prefix-summed on the driver and broadcast back.
    The caller pins ``part`` before this job so that it and the job
    reading the bases see the same partition contents."""
    partials = {
        r["__pid"]: r["v"]
        for r in part.groupBy("__pid").agg(partial.alias("v")).collect()
    }
    bases, acc = {}, offset
    for pid in sorted(partials):
        bases[pid] = acc
        acc += int(partials[pid] or 0)
    base_df = part.sparkSession.createDataFrame(
        [(int(pid), int(base)) for pid, base in bases.items()], "__pid int, __base long"
    )
    return part.join(F.broadcast(base_df), "__pid")


def with_surrogate_key_scalable(df: DataFrame, sk_col: str, offset: int = 0) -> DataFrame:
    """Dense keys without a global window: sort-partition the data,
    count rows per partition, prefix-sum the counts on the driver
    (#partitions scalars, not data), then add the per-partition base to
    a within-partition row_number. One extra count job, no shuffle
    funnel. Keys are assigned in partition order — stable for a given
    partitioning; callers wanting a business ordering should
    ``repartitionByRange(order_col)`` first."""
    # persist BEFORE the counts job: the job that collects per-partition
    # counts and the job that assigns keys must observe the exact same
    # partition contents — without pinning, a nondeterministic upstream
    # (shuffle order, range-boundary sampling) can shift rows between
    # partitions across the two evaluations and corrupt the prefix sums
    part = pin(df.withColumn("__pid", F.spark_partition_id()), critical=True)
    w = Window.partitionBy("__pid").orderBy(F.monotonically_increasing_id())
    return (
        partition_bases(part, F.count(F.lit(1)), offset)
        .withColumn(sk_col, F.row_number().over(w) + F.col("__base"))
        .drop("__pid", "__base")
    )


def with_surrogate_key_ranged(
    df: DataFrame, order_col: str, sk_col: str, offset: int = 0, partitions: int | None = None
) -> DataFrame:
    """Dense ``row_number() OVER (ORDER BY order_col) + offset``
    semantics WITHOUT the global single-task window funnel:
    range-repartition on the key (partition p's keys all sort before
    partition p+1's), count rows per partition, prefix-sum the counts
    driver-side (#partitions scalars, not data), then rank within each
    partition BY THE KEY. Exactly equivalent to
    ``with_surrogate_key_dense`` for unique keys, with sort and rank
    shuffle-parallel across all executors — the form SCD2 init/insert
    batches route through (``Scd_Type2.sql:33-34`` parity at any
    scale)."""
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    # persist pins the sampled range boundaries: repartitionByRange
    # re-samples per evaluation, so without it the counts job and the
    # key-assignment job could disagree on which partition a key lives
    # in — the per-partition bases would then be offset wrong
    part = pin(
        df.repartitionByRange(n, F.col(order_col))
        .withColumn("__pid", F.spark_partition_id()),
        critical=True,
    )
    w = Window.partitionBy("__pid").orderBy(order_col)
    return (
        partition_bases(part, F.count(F.lit(1)), offset)
        .withColumn(sk_col, F.row_number().over(w) + F.col("__base"))
        .drop("__pid", "__base")
    )


def max_key(df: DataFrame, sk_col: str, default: int = 0) -> int:
    """Scalar ``SELECT MAX(sk)`` (Scd_Type2.sql:34) — the one sanctioned
    collect: a single aggregated scalar."""
    row = df.agg(F.max(sk_col).alias("m")).collect()[0]
    return int(row["m"]) if row["m"] is not None else default
