"""Ordered keyed deduplication (SURVEY.md §2.B B10; B8/B9 are plain
``dropDuplicates``).

The ordered-keyed variant is the semantic trap (B10): pandas
``sort_values(k2).drop_duplicates(k1)`` keeps the row with min k2, but
Spark ``dropDuplicates`` after ``orderBy`` gives NO such guarantee —
the shuffle into the dedup aggregation discards ordering. The
deterministic realization is a ``row_number`` window, which Catalyst
executes as a single shuffle on the partition keys (same cost as the
naive dropDuplicates, correct semantics).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def dedup_keyed_ordered(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column | str]
) -> DataFrame:
    """B10: keyed dedup keeping the FIRST row under ``order``
    (app.py:116 — min payment_installments per order).

    Callers must make ``order`` a total order within each key group
    (append a unique column) or the pick is nondeterministic.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
