"""Round-9-staged corpus additions, part 2 (registered in round 8,
positions 65-70): supplier brand reach, order-value dispersion per
customer, weekday value mix, line-count-by-priority, nation revenue
CAGR, and hourly diurnality autocorrelation.

Reference anchors: revenue/customer tab extensions (app.py:286-470)
plus the funnel tab's time-of-day views (app.py:471-530).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..functions.money import O_CENTS, cents
from .corpus import ORACLES, QUERIES, query  # noqa: F401


@query(
    "supplier_brand_reach",
    oracle="""
    WITH e AS (
        SELECT DISTINCT l.l_suppkey AS suppkey, p.p_brand AS brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    d AS (SELECT suppkey, COUNT(*) AS n_brands FROM e GROUP BY suppkey)
    SELECT CAST(n_brands AS BIGINT) AS n_brands,
           COUNT(*) AS n_suppliers
    FROM d GROUP BY n_brands ORDER BY n_brands
    """,
)
def q_supplier_brand_reach(spark, t):
    """Brand-reach histogram: suppliers by how many distinct brands
    they ship — a generalist/specialist split of the supply base
    (trade_degree_distribution counts customers reached; this counts
    catalog breadth, the other axis of supplier criticality).

    Scale shape: broadcast part dim into the fact scan, distinct on
    the BARE (suppkey, brand) edge, one supplier-grain count, then a
    bounded <=25-row histogram rollup."""
    e = (
        t["lineitem"]
        .select("l_suppkey", "l_partkey")
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.col("p_brand").alias("brand"),
        )
        .distinct()
    )
    d = e.groupBy("suppkey").agg(F.count(F.lit(1)).alias("n_brands"))
    return (
        d.groupBy(F.col("n_brands").cast("long").alias("n_brands"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
        .orderBy("n_brands")
    )


@query(
    "customer_order_value_cv",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey, {O_CENTS} AS cents FROM orders
    ),
    per AS (
        SELECT o_custkey,
               COUNT(*) AS n,
               AVG(cents) AS mu,
               stddev_samp(cents) AS sigma
        FROM o GROUP BY o_custkey HAVING COUNT(*) >= 3
    ),
    j AS (
        SELECT c.c_mktsegment AS segment, per.sigma / per.mu AS cv
        FROM per JOIN customer c ON c.c_custkey = per.o_custkey
        WHERE per.mu > 0
    )
    SELECT segment,
           COUNT(*) AS n_customers,
           ROUND(AVG(cv), 4) AS avg_cv,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY cv), 4)
               AS p50_cv,
           ROUND(MAX(cv), 4) AS max_cv
    FROM j GROUP BY segment ORDER BY segment
    """,
)
def q_customer_order_value_cv(spark, t):
    """Order-value coefficient of variation per customer (>= 3
    orders), rolled to segment grain: erratic spenders (high CV) are
    promotion-driven, steady ones are subscription-shaped — the
    volatility view customer_spend_quartile_bands' level bands miss.

    Scale shape: one customer-grain moment rollup (count/avg/stddev
    in a single pass), broadcast segment dim join at customer grain,
    bounded 5-row segment rollup with a rank-based median."""
    per = (
        t["orders"]
        .select("o_custkey", cents("o_totalprice").alias("cents"))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("cents").alias("mu"),
            F.stddev_samp("cents").alias("sigma"),
        )
        .filter((F.col("n") >= 3) & (F.col("mu") > 0))
    )
    j = per.join(
        F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
        F.col("c_custkey") == F.col("o_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("sigma") / F.col("mu")).alias("cv"),
    )
    return (
        j.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("cv"), 4).alias("avg_cv"),
            F.round(F.expr("percentile(cv, 0.5)"), 4).alias("p50_cv"),
            F.round(F.max("cv"), 4).alias("max_cv"),
        )
        .orderBy("segment")
    )


@query(
    "events_value_by_weekday",
    oracle="""
    WITH e AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-05' AS BIGINT) % 7
                   AS weekday,
               event_type, value
        FROM events
    )
    SELECT CAST(weekday AS BIGINT) AS weekday,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value
                          ELSE 0 END), 2) AS purchase_value
    FROM e GROUP BY weekday ORDER BY weekday
    """,
)
def q_events_value_by_weekday(spark, t):
    """Event volume and purchase value by weekday (0 = Monday via the
    portable Monday-epoch lever): the weekly demand rhythm of the
    event stream — orders_weekday_seasonality covers the order feed;
    this covers the clickstream, where the two diverging flags a
    tracking gap.

    Scale shape: map-side weekday arithmetic, one bounded 7-row
    rollup."""
    wd = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-05").cast("date")
    ).cast("long") % 7
    return (
        t["events"]
        .select(
            wd.alias("weekday"),
            "event_type",
            "value",
        )
        .groupBy(F.col("weekday").cast("long").alias("weekday"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("long").alias("n_purchases"),
            F.round(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    ).otherwise(0.0)
                ),
                2,
            ).alias("purchase_value"),
        )
        .orderBy("weekday")
    )


@query(
    "order_linecount_by_priority",
    oracle="""
    WITH lc AS (
        SELECT l_orderkey, COUNT(*) AS n_lines
        FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
        SELECT o.o_orderpriority AS priority, lc.n_lines
        FROM orders o JOIN lc ON lc.l_orderkey = o.o_orderkey
    )
    SELECT priority,
           COUNT(*) AS n_orders,
           CAST(SUM(n_lines) AS BIGINT) AS n_lines,
           CAST(FLOOR(SUM(n_lines) * 100.0 / COUNT(*)) AS BIGINT)
               AS avg_lines_x100_trunc,
           CAST(MAX(n_lines) AS BIGINT) AS max_lines
    FROM j GROUP BY priority ORDER BY priority
    """,
)
def q_order_linecount_by_priority(spark, t):
    """Basket width by order priority: do urgent orders carry fewer
    lines (expedite-one-thing) or more (stock-up) —
    order_linecount_histogram shows the global shape; the priority
    split is what warehouse wave-planning consumes. Mean reported as
    an exact x100 truncated integer.

    Scale shape: order-grain line-count rollup (one shuffle on the
    join key, reused by the join), bounded 5-row priority rollup."""
    lc = t["lineitem"].groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    j = t["orders"].join(
        lc, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(F.col("o_orderpriority").alias("priority"), "n_lines")
    return (
        j.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.floor(F.sum("n_lines") * 100.0 / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_lines_x100_trunc"),
            F.max("n_lines").cast("long").alias("max_lines"),
        )
        .orderBy("priority")
    )


@query(
    "nation_revenue_cagr",
    oracle=f"""
    WITH y AS (
        SELECT n.n_name AS nation, year(o.o_orderdate) AS yr,
               CAST(SUM({O_CENTS}) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ),
    span AS (
        SELECT MIN(yr) AS y0, MAX(yr) AS y1 FROM y
    ),
    fl AS (
        SELECT y.nation,
               SUM(CASE WHEN y.yr = s.y0 THEN y.cents ELSE 0 END)
                   AS first_cents,
               SUM(CASE WHEN y.yr = s.y1 THEN y.cents ELSE 0 END)
                   AS last_cents,
               MAX(s.y1 - s.y0) AS n_years
        FROM y, span s GROUP BY y.nation
    )
    SELECT nation,
           CAST(first_cents AS BIGINT) AS first_year_cents,
           CAST(last_cents AS BIGINT) AS last_year_cents,
           ROUND(POWER(CAST(last_cents AS DOUBLE) / first_cents,
                       1.0 / n_years) - 1.0, 6) AS cagr
    FROM fl WHERE first_cents > 0 AND last_cents > 0
    ORDER BY nation
    """,
)
def q_nation_revenue_cagr(spark, t):
    """Compound annual growth rate of revenue per nation (first
    corpus year to last): the one-number growth ranking behind
    regional investment cases — region_quarter_revenue_yoy gives
    noisy quarterly deltas; CAGR is the smoothed executive view.

    Scale shape: two broadcast dim joins, a bounded (nation x year)
    rollup, the year span as a broadcast 1-row scalar, and POWER
    (portable, correctly-rounded) on the bounded nation frame."""
    y = (
        t["orders"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    span = y.agg(F.min("yr").alias("y0"), F.max("yr").alias("y1"))
    fl = (
        y.crossJoin(F.broadcast(span))
        .groupBy("nation")
        .agg(
            F.sum(
                F.when(F.col("yr") == F.col("y0"), F.col("cents")).otherwise(0)
            ).alias("first_cents"),
            F.sum(
                F.when(F.col("yr") == F.col("y1"), F.col("cents")).otherwise(0)
            ).alias("last_cents"),
            F.max(F.col("y1") - F.col("y0")).alias("n_years"),
        )
        .filter((F.col("first_cents") > 0) & (F.col("last_cents") > 0))
    )
    return fl.select(
        "nation",
        F.col("first_cents").cast("long").alias("first_year_cents"),
        F.col("last_cents").cast("long").alias("last_year_cents"),
        F.round(
            F.pow(
                F.col("last_cents").cast("double") / F.col("first_cents"),
                1.0 / F.col("n_years"),
            )
            - 1.0,
            6,
        ).alias("cagr"),
    ).orderBy("nation")


@query(
    "events_hourly_autocorr24",
    oracle="""
    WITH h AS (
        SELECT substr(CAST(ts AS STRING), 1, 13) AS hr, COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT n,
               LAG(n, 24) OVER (ORDER BY hr) AS n24
        FROM h
    )
    SELECT COUNT(*) AS n_hour_pairs,
           ROUND(corr(n, n24), 4) AS autocorr_24h
    FROM lagged WHERE n24 IS NOT NULL
    """,
)
def q_events_hourly_autocorr24(spark, t):
    """Diurnality strength: lag-24 autocorrelation of hourly event
    counts — near 1 means a hard daily cycle (schedule capacity by
    hour), near 0 means demand is flat or bursty
    (daily_revenue_autocorr works at day grain on revenue; this is
    the hour-grain load signal capacity planning wants).

    Scale shape: the fact collapses to the BOUNDED calendar-hour
    grain first; the lag window runs unpartitioned ONLY over that
    bounded hour series (allowlisted), and the correlation is one
    scalar aggregate."""
    h = t["events"].groupBy(
        F.substring(F.col("ts").cast("string"), 1, 13).alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("hr")
    lagged = h.select(
        "n", F.lag("n", 24).over(w).alias("n24")
    ).filter(F.col("n24").isNotNull())
    return lagged.agg(
        F.count(F.lit(1)).alias("n_hour_pairs"),
        F.round(F.corr("n", "n24"), 4).alias("autocorr_24h"),
    )
