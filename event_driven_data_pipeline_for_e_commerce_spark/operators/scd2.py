"""SCD Type-2 dimension maintenance (SURVEY.md §2.C J7, §7.2 M4).

Reference: ``PROJECT/Scd_Type2.sql`` — a BigQuery ``MERGE`` keyed on
``(order_id, is_current)`` that expires changed current rows
(``valid_to = load_ts, is_current = false``, sql:40-44) and inserts new
versions with surrogate keys continuing from the current max
(``ROW_NUMBER() OVER (ORDER BY order_id) + (SELECT MAX(order_sk)...)``,
sql:33-34,46-53). Open-ended rows carry
``valid_to = TIMESTAMP '9999-12-31 23:59:59'`` (sql:84).

Spark has no MERGE on plain Parquet, so the merge is rewritten
relationally (this file) and writes go through an atomic
snapshot-swap (`scd2_write`):

    new_dim = history
            ∪ unchanged current
            ∪ expired current   (hash differs)
            ∪ new versions      (hash differs OR key unseen)

Scale notes: the current-slice ⋈ staging join is an equi-join on the
business key — at 100 TB this shuffles both sides on the key once (or
broadcasts a small staging batch); history rows are passed through
untouched (no shuffle — union is free). SK assignment (both the
initial load and insert continuation) routes through
``with_surrogate_key_ranged`` — dense-by-key exactly like the
reference's ``ROW_NUMBER() OVER (ORDER BY key)`` but bucketed by key
value and ranked per bucket, so there is NO global single-task window
anywhere in the batch path. The insert offset is the target's
``MAX(sk)`` as a scalar subquery, so building a merge runs no job.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.strings import row_hash
from .pinning import pin
from .surrogate_keys import with_surrogate_key_ranged

OPEN_END_TS = "9999-12-31 23:59:59"

SCD2_META_COLS = ("valid_from", "valid_to", "is_current", "row_hash")


def scd2_init(
    dim: DataFrame,
    key: str,
    tracked_cols: Sequence[str],
    load_ts: Column,
    sk_col: str = "sk",
    sk_offset: int = 0,
) -> DataFrame:
    """Initial SCD2 load: every row current, SKs dense by key order.

    SK assignment routes through the value-bucketed form — identical
    dense-by-key values to ``ROW_NUMBER() OVER (ORDER BY key)``
    (Scd_Type2.sql:33-34) with no global single-task window, so the
    init scales to arbitrarily large dimensions."""
    hashed = dim.withColumn("row_hash", row_hash(list(tracked_cols)))
    return (
        with_surrogate_key_ranged(hashed, key, sk_col, offset=sk_offset)
        .withColumn("valid_from", load_ts.cast("timestamp"))
        .withColumn("valid_to", F.lit(OPEN_END_TS).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )


def scd2_merge(
    target: DataFrame,
    staging: DataFrame,
    key: str,
    tracked_cols: Sequence[str],
    load_ts: Column,
    sk_col: str = "sk",
) -> DataFrame:
    """Relational rewrite of the Scd_Type2.sql MERGE. Returns the new
    full dimension (history + current). Idempotent: re-merging an
    identical staging batch is a no-op (hash equality keeps rows)."""
    tracked = list(tracked_cols)
    staged = staging.select(key, *tracked).withColumn("row_hash", row_hash(tracked))

    current = target.filter(F.col("is_current"))
    history = target.filter(~F.col("is_current"))

    s = staged.select(
        F.col(key).alias("__s_key"),
        F.col("row_hash").alias("__s_hash"),
        *[F.col(c).alias(f"__s_{c}") for c in tracked],
    )
    # Pinned: the unchanged/expired/inserts branches all read this
    # join; without the pin each union branch re-executes the
    # current ⋈ staging SortMergeJoin (3× the merge's dominant
    # shuffle+sort cost). One bounded cache entry (operators.pinning)
    # per merge call.
    joined = pin(current.join(s, current[key] == s["__s_key"], "full_outer"))

    # current rows with no staged counterpart, or with identical hash → unchanged
    unchanged = joined.filter(
        F.col("__s_key").isNull() | (F.col("row_hash") == F.col("__s_hash"))
    ).select(*target.columns)

    # current rows whose staged hash differs → expired (sql:40-44)
    expired = (
        joined.filter(
            F.col("__s_key").isNotNull()
            & F.col(key).isNotNull()
            & (F.col("row_hash") != F.col("__s_hash"))
        )
        .select(*target.columns)
        .withColumn("valid_to", load_ts.cast("timestamp"))
        .withColumn("is_current", F.lit(False))
    )

    # staged rows that are brand new or changed → new current versions (sql:46-53)
    inserts_src = joined.filter(
        F.col("__s_key").isNotNull()
        & (F.col(key).isNull() | (F.col("row_hash") != F.col("__s_hash")))
    ).select(
        F.col("__s_key").alias(key),
        *[F.col(f"__s_{c}").alias(c) for c in tracked],
        F.col("__s_hash").alias("row_hash"),
    )

    # dense continuation from max(sk) (sql:34, a scalar subquery in
    # the same plan), value-bucketed — no global window even when the
    # staging batch itself is huge
    offset = F.coalesce(target.agg(F.max(sk_col)).scalar(), F.lit(0))
    inserts = (
        with_surrogate_key_ranged(inserts_src, key, sk_col, offset=offset)
        .withColumn("valid_from", load_ts.cast("timestamp"))
        .withColumn("valid_to", F.lit(OPEN_END_TS).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .select(*target.columns)
    )

    return history.select(*target.columns).unionByName(unchanged).unionByName(expired).unionByName(inserts)


def scd2_write(dim: DataFrame, path: str) -> None:
    """Atomic snapshot swap for plain-Parquet SCD2 targets
    (SURVEY.md §7.3): write to a temp dir, then rename over the old
    snapshot — readers never observe a half-written dimension."""
    import os
    import shutil
    import uuid

    tmp = f"{path}.__tmp_{uuid.uuid4().hex[:8]}"
    dim.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        old = f"{path}.__old_{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    else:
        os.rename(tmp, path)


def scd2_history(dim: DataFrame, key: str, key_value) -> DataFrame:
    """Version-history probe for one key (Scd_Type2.sql:56-65)."""
    return dim.filter(F.col(key) == F.lit(key_value)).orderBy("valid_from")
