"""Declarative metric layer: named measures + conformed dimensions
compiled into single-pass DataFrame plans over the star schema.

The reference ships its metric definitions hard-wired into dashboard
callbacks (``app.py:237-530`` — funnel counts, monthly revenue, status
mixes, each re-written per chart); this module is the engine-side
generalization a replacement needs: one registry of measures and
dimensions, one compiler, any grain combination on demand — the
semantic-layer contract (metrics defined once, queried at any grain).

Compilation rules (the 100 TB shape):
- ONE aggregation pass per request: all requested measures fold in a
  single ``groupBy(dims).agg(...)`` — never one scan per measure.
- Dimension tables join via the star's FK graph, resolved hop-by-hop
  and ALWAYS broadcast (dimension frames are catalog-sized).
- Derived (ratio) measures compute from their component aggregates
  AFTER the fold, so they add zero scan cost.
- Measures/dimensions are SQL expression strings -> Catalyst columns:
  pushdown/pruning/codegen all apply untouched.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


@dataclass(frozen=True)
class Measure:
    """An aggregate over the fact table (``expr`` is a SQL aggregate),
    or a post-aggregation ratio of two registered measures
    (``ratio_of`` = (numerator, denominator), rounded to ``scale``)."""

    expr: str | None = None
    ratio_of: tuple[str, str] | None = None
    scale: int | None = None


@dataclass(frozen=True)
class Dimension:
    """A grouping expression. ``path`` lists the FK hops (joined
    tables, in order) needed before ``expr`` can evaluate; an empty
    path means the expression reads the fact table directly."""

    expr: str
    path: tuple[str, ...] = field(default_factory=tuple)


# FK graph of the star: joined-table -> (left key on the accumulated
# frame, right key on the joined table). Hops must be joined in the
# order a Dimension's path lists them.
ORDERS_STAR_JOINS = {
    "customer": ("o_custkey", "c_custkey"),
    "nation": ("c_nationkey", "n_nationkey"),
    "region": ("n_regionkey", "r_regionkey"),
}

ORDERS_MEASURES = {
    "revenue": Measure(expr="ROUND(SUM(o_totalprice), 2)"),
    "order_cnt": Measure(expr="COUNT(*)"),
    "customer_cnt": Measure(expr="COUNT(DISTINCT o_custkey)"),
    "max_order_value": Measure(expr="ROUND(MAX(o_totalprice), 2)"),
    "avg_order_value": Measure(ratio_of=("revenue", "order_cnt"), scale=4),
    "orders_per_customer": Measure(
        ratio_of=("order_cnt", "customer_cnt"), scale=4
    ),
}

ORDERS_DIMENSIONS = {
    "month": Dimension(expr="date_format(o_orderdate, 'yyyy-MM')"),
    "quarter": Dimension(
        expr="concat(year(o_orderdate), '-Q', quarter(o_orderdate))"
    ),
    "priority": Dimension(expr="o_orderpriority"),
    "status": Dimension(expr="o_orderstatus"),
    "segment": Dimension(expr="c_mktsegment", path=("customer",)),
    "nation": Dimension(expr="n_name", path=("customer", "nation")),
    "region": Dimension(
        expr="r_name", path=("customer", "nation", "region")
    ),
}


def _compile(
    tables: Mapping[str, DataFrame],
    fact: str,
    joins: dict[str, tuple[str, str]],
    measures_reg: dict[str, Measure],
    dimensions_reg: dict[str, Dimension],
    measures: list[str],
    dimensions: list[str],
    where: str | None,
) -> DataFrame:
    frame = tables[fact]
    if where:
        frame = frame.filter(F.expr(where))
    joined: set[str] = set()
    for d in dimensions:
        for hop in dimensions_reg[d].path:
            if hop in joined:
                continue
            lk, rk = joins[hop]
            frame = frame.join(
                F.broadcast(tables[hop]), F.col(lk) == F.col(rk)
            )
            joined.add(hop)

    dim_cols = [F.expr(dimensions_reg[d].expr).alias(d) for d in dimensions]
    base = [m for m in measures if measures_reg[m].expr is not None]
    derived = [m for m in measures if measures_reg[m].ratio_of]
    # ratio components must be aggregated even if not requested
    needed = set(base)
    for m in derived:
        needed.update(measures_reg[m].ratio_of)
    agg_cols = [F.expr(measures_reg[m].expr).alias(m) for m in sorted(needed)]
    out = frame.groupBy(*dim_cols).agg(*agg_cols)
    for m in derived:
        num, den = measures_reg[m].ratio_of
        out = out.withColumn(
            m, F.round(F.col(num) / F.col(den), measures_reg[m].scale)
        )
    return out.select(*dimensions, *measures)


def compile_metrics(
    tables: Mapping[str, DataFrame],
    measures: list[str],
    dimensions: list[str],
    where: str | None = None,
) -> DataFrame:
    """Compile a metric request into one aggregation pass over the
    orders star in ``tables``, the table catalog (``plans.tables``) a
    registered query receives. Output columns: the dimensions (by
    name, request order) then the measures (by name, request order)."""
    return _compile(
        tables,
        "orders",
        ORDERS_STAR_JOINS,
        ORDERS_MEASURES,
        ORDERS_DIMENSIONS,
        measures,
        dimensions,
        where,
    )


# ---------------------------------------------------------------------------
# Events star (second fact): same compiler, event-stream measures.
# events.user_id joins the customer dimension (the
# ``segment_event_revenue`` precedent).
# ---------------------------------------------------------------------------

EVENTS_STAR_JOINS = {
    "customer": ("user_id", "c_custkey"),
}

EVENTS_MEASURES = {
    "event_cnt": Measure(expr="COUNT(*)"),
    "active_users": Measure(expr="COUNT(DISTINCT user_id)"),
    "purchase_revenue": Measure(
        expr="ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value "
        "ELSE 0 END), 2)"
    ),
    "events_per_user": Measure(ratio_of=("event_cnt", "active_users"), scale=4),
}

EVENTS_DIMENSIONS = {
    "day": Dimension(expr="date_format(ts, 'yyyy-MM-dd')"),
    "event_type": Dimension(expr="event_type"),
    "segment": Dimension(expr="c_mktsegment", path=("customer",)),
}


def compile_event_metrics(
    tables: Mapping[str, DataFrame],
    measures: list[str],
    dimensions: list[str],
    where: str | None = None,
) -> DataFrame:
    """``compile_metrics`` over the events star."""
    return _compile(
        tables,
        "events",
        EVENTS_STAR_JOINS,
        EVENTS_MEASURES,
        EVENTS_DIMENSIONS,
        measures,
        dimensions,
        where,
    )
