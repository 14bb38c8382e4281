"""Money as integer cents: the one definition of the cent casts the
query corpus shares, as SQL text for the DuckDB oracles and as Spark
columns for the query code. Both sides round the double to the nearest
cent and cast to a 64-bit integer, so every later sum, difference and
ratio over cents is integer arithmetic on both engines."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

O_CENTS = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
L_CENTS = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
L_REV_CENTS = "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"


def cents(col: str) -> Column:
    """``CAST(ROUND(col * 100) AS BIGINT)`` for a two-decimal money column."""
    return F.round(F.col(col) * 100).cast("long")


def o_cents() -> Column:
    """The Spark side of ``O_CENTS``."""
    return cents("o_totalprice")


def l_rev_cents() -> Column:
    """The Spark side of ``L_REV_CENTS``: discounted line revenue."""
    return F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
