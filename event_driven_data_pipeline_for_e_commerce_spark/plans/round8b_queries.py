"""Round-8 corpus additions (registered into the round-8 driver
window, positions 21-50): value-integrity reconciliation, share/mix
marts, degree-distribution graph audits, engagement stickiness and
sessionization depth for events, and LLM-data text/embedding
diagnostics (padding waste, digit density, token-mass inequality,
PQ code entropy, IVF residuals, kNN confusion, int8 saturation).

Reference anchors: the share/mix/reconciliation marts extend the
reference dashboard's revenue and customer tabs (app.py:286-470); the
events additions extend the funnel tab (app.py:471-530); the
doc/emb additions deepen the LLM-data family graded alongside
SURVEY.md §2.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from event_driven_data_pipeline_for_e_commerce_spark.operators.partitioning import (
    ensure_parallelism,
)

from ..functions.money import O_CENTS, cents
from .corpus import ORACLES, QUERIES, query


# --------------------------------------------------------------------------
# Value integrity: order header vs line-level reconciliation
# --------------------------------------------------------------------------

@query(
    "order_total_reconciliation",
    oracle="""
    WITH l AS (
        SELECT l_orderkey,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                              * (1 + l_tax) * 100) AS BIGINT))
                   AS line_cents
        FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
        SELECT o.o_orderstatus AS status,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS order_cents,
               l.line_cents
        FROM orders o JOIN l ON l.l_orderkey = o.o_orderkey
    )
    SELECT status,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN ABS(order_cents - line_cents) > 100
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_off_by_1usd,
           CAST(MAX(ABS(order_cents - line_cents)) AS BIGINT)
               AS max_abs_diff_cents,
           CAST(SIGN(SUM(order_cents - line_cents))
                * FLOOR(ABS(SUM(order_cents - line_cents)) * 1.0
                        / COUNT(*)) AS BIGINT) AS avg_diff_cents_trunc
    FROM j GROUP BY status ORDER BY status
    """,
)
def q_order_total_reconciliation(spark, t):
    """Header-vs-lines value reconciliation: does o_totalprice equal
    the sum of its line items' discounted, taxed extended prices?
    The value-level sibling of referential_integrity_audit (which
    checks keys, not money) — the first audit a finance consumer runs
    against any ingested order feed. Diffs are exact integer cents
    (FLOOR, not ROUND, of the line product — ROUND-on-double at a
    shortest-repr ..5 boundary is engine-dependent).

    Scale shape: one order-grain map-combined rollup of lineitem (one
    shuffle on the join key, reused by the join), then a bounded
    status-grain rollup in exact integers."""
    line = (
        t["lineitem"]
        .select(
            "l_orderkey",
            F.floor(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
            ).cast("bigint").alias("lc"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("lc").alias("line_cents"))
    )
    j = t["orders"].join(
        line, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        F.col("o_orderstatus").alias("status"),
        cents("o_totalprice").alias("order_cents"),
        "line_cents",
    )
    diff = F.col("order_cents") - F.col("line_cents")
    sdiff = F.sum(diff)
    return (
        j.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.abs(diff) > 100, 1).otherwise(0)
            ).cast("long").alias("n_off_by_1usd"),
            F.max(F.abs(diff)).cast("long").alias("max_abs_diff_cents"),
            (
                F.signum(sdiff)
                * F.floor(F.abs(sdiff) * 1.0 / F.count(F.lit(1)))
            ).cast("long").alias("avg_diff_cents_trunc"),
        )
        .orderBy("status")
    )


# --------------------------------------------------------------------------
# Brand share trend (share-within-year window over a bounded grain)
# --------------------------------------------------------------------------

@query(
    "brand_revenue_share_trend",
    oracle="""
    WITH r AS (
        SELECT p.p_brand AS brand, year(l.l_shipdate) AS yr,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    )
    SELECT brand, CAST(yr AS BIGINT) AS yr, cents,
           ROUND(CAST(cents AS DOUBLE) * 100.0
                 / SUM(cents) OVER (PARTITION BY yr), 4) AS share_pct
    FROM r ORDER BY brand, yr
    """,
)
def q_brand_revenue_share_trend(spark, t):
    """Brand revenue share within each ship year — the market-share
    trend view of the reference's brand tab (brand_performance is a
    lifetime rollup; q8_market_share tracks one nation): a brand
    whose share decays across years is losing shelf space even if its
    absolute revenue grows with the corpus.

    Scale shape: broadcast part dim into the fact scan, one
    (brand, year) map-combined rollup, then a share window on the
    BOUNDED (brand x year) grain — ~25 brands x 7 years, never a
    fact-grain window."""
    r = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("l_shipdate").alias("yr"),
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("yr")
    return r.select(
        "brand",
        F.col("yr").cast("long").alias("yr"),
        "cents",
        F.round(
            F.col("cents").cast("double") * 100.0 / F.sum("cents").over(w), 4
        ).alias("share_pct"),
    ).orderBy("brand", "yr")


# --------------------------------------------------------------------------
# Account-balance decile profile (scalar cutpoints, no global window)
# --------------------------------------------------------------------------

_DECILE_PS = [i / 10.0 for i in range(1, 10)]


@query(
    "acctbal_decile_profile",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
    ),
    cuts AS (
        SELECT {", ".join(
            f"percentile_cont({p}) WITHIN GROUP (ORDER BY bal_cents)"
            f" AS c{i}"
            for i, p in enumerate(_DECILE_PS, start=1)
        )}
        FROM c
    ),
    banded AS (
        SELECT c.c_custkey, c.bal_cents,
               1 {" ".join(
                   f"+ (CASE WHEN c.bal_cents > k.c{i} THEN 1 ELSE 0 END)"
                   for i in range(1, 10)
               )} AS decile
        FROM c, cuts k
    ),
    spend AS (
        SELECT o_custkey, SUM({O_CENTS}) AS spend_cents
        FROM orders GROUP BY o_custkey
    )
    SELECT CAST(b.decile AS BIGINT) AS decile,
           COUNT(*) AS n_customers,
           MIN(b.bal_cents) AS min_bal_cents,
           MAX(b.bal_cents) AS max_bal_cents,
           CAST(SUM(COALESCE(s.spend_cents, 0)) AS BIGINT)
               AS total_spend_cents
    FROM banded b LEFT JOIN spend s ON s.o_custkey = b.c_custkey
    GROUP BY b.decile ORDER BY decile
    """,
)
def q_acctbal_decile_profile(spark, t):
    """Account-balance deciles with spend attribution: how much order
    revenue each balance decile generates — the wealth-vs-activity
    view behind credit-risk segmentation (nation_balance_spend_corr
    gives one correlation number; this shows the full gradient).

    Scale shape: decile CUTPOINTS are one scalar aggregate (9 exact
    percentiles) broadcast back over the customer scan — never an
    NTILE window over the full table (an unpartitioned sort); the
    spend side is a customer-grain rollup joined at customer grain."""
    c = t["customer"].select(
        "c_custkey", cents("c_acctbal").alias("bal_cents")
    )
    cuts = c.agg(
        *[
            F.expr(f"percentile(bal_cents, {p})").alias(f"c{i}")
            for i, p in enumerate(_DECILE_PS, start=1)
        ]
    )
    decile = F.lit(1)
    for i in range(1, 10):
        decile = decile + F.when(
            F.col("bal_cents") > F.col(f"c{i}"), 1
        ).otherwise(0)
    banded = c.crossJoin(F.broadcast(cuts)).select(
        "c_custkey", "bal_cents", decile.alias("decile")
    )
    spend = t["orders"].groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("spend_cents")
    )
    return (
        banded.join(spend, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy(F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("bal_cents").alias("min_bal_cents"),
            F.max("bal_cents").alias("max_bal_cents"),
            F.sum(F.coalesce(F.col("spend_cents"), F.lit(0)))
            .cast("long")
            .alias("total_spend_cents"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# Late revenue at risk (theta filter -> priority-grain value shares)
# --------------------------------------------------------------------------

@query(
    "late_revenue_at_risk",
    oracle="""
    WITH j AS (
        SELECT o.o_orderpriority AS priority,
               CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS cents,
               CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                    THEN 1 ELSE 0 END AS is_late
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT priority,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           CAST(SUM(CASE WHEN is_late = 1 THEN cents ELSE 0 END) AS BIGINT)
               AS late_revenue_cents,
           ROUND(CAST(SUM(CASE WHEN is_late = 1 THEN cents ELSE 0 END)
                      AS DOUBLE) * 100.0 / SUM(cents), 4)
               AS late_share_pct
    FROM j GROUP BY priority ORDER BY priority
    """,
)
def q_late_revenue_at_risk(spark, t):
    """Revenue-weighted lateness by order priority: late_shipments
    counts late lines; this weighs them by money — the number an SLA
    negotiation actually argues about (a 2% late-line rate that
    carries 9% of revenue is a different conversation).

    Scale shape: fact-fact equi-join on the order key (both sides
    shuffle once on it), map-side cents/lateness projection, bounded
    5-row priority rollup in exact integers."""
    j = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long").alias("cents"),
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                1,
            ).otherwise(0).alias("is_late"),
        )
    )
    late_cents = F.sum(F.when(F.col("is_late") == 1, F.col("cents")).otherwise(0))
    return (
        j.groupBy("priority")
        .agg(
            F.sum("cents").cast("long").alias("revenue_cents"),
            late_cents.cast("long").alias("late_revenue_cents"),
            F.round(
                late_cents.cast("double") * 100.0 / F.sum("cents"), 4
            ).alias("late_share_pct"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# Segment x nation mix (marginal-share + modal flag on a bounded grain)
# --------------------------------------------------------------------------

@query(
    "segment_nation_mix_share",
    oracle="""
    WITH m AS (
        SELECT n.n_name AS nation, c.c_mktsegment AS segment,
               COUNT(*) AS n_customers
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ),
    r AS (
        SELECT nation, segment, n_customers,
               ROUND(CAST(n_customers AS DOUBLE) * 100.0
                     / SUM(n_customers) OVER (PARTITION BY nation), 4)
                   AS share_pct,
               ROW_NUMBER() OVER (PARTITION BY nation
                                  ORDER BY n_customers DESC, segment)
                   AS rn
        FROM m
    )
    SELECT nation, segment, n_customers, share_pct,
           CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_modal
    FROM r ORDER BY nation, segment
    """,
)
def q_segment_nation_mix_share(spark, t):
    """Market-segment mix per nation with the modal segment flagged —
    the geographic composition table under the reference's customer
    tab (event_segment_chisq tests independence; this shows the
    actual mix a campaign planner reads).

    Scale shape: broadcast nation dim, one (nation, segment)
    map-combined rollup, then share/modal windows on the BOUNDED
    125-row grain."""
    m = (
        t["customer"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    wn = Window.partitionBy("nation")
    wr = wn.orderBy(F.desc("n_customers"), F.asc("segment"))
    return (
        m.select(
            "nation",
            "segment",
            "n_customers",
            F.round(
                F.col("n_customers").cast("double")
                * 100.0
                / F.sum("n_customers").over(wn),
                4,
            ).alias("share_pct"),
            F.row_number().over(wr).alias("rn"),
        )
        .select(
            "nation",
            "segment",
            "n_customers",
            "share_pct",
            F.when(F.col("rn") == 1, 1).otherwise(0).alias("is_modal"),
        )
        .orderBy("nation", "segment")
    )


# --------------------------------------------------------------------------
# Supplier reach: distinct-customer degree distribution (log2 bands)
# --------------------------------------------------------------------------

@query(
    "trade_degree_distribution",
    oracle="""
    WITH e AS (
        SELECT DISTINCT l.l_suppkey AS suppkey, o.o_custkey AS custkey
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    d AS (
        SELECT suppkey, COUNT(*) AS degree FROM e GROUP BY suppkey
    )
    SELECT CAST(FLOOR(LN(degree) / LN(2)) AS BIGINT) AS log2_band,
           COUNT(*) AS n_suppliers,
           CAST(MIN(degree) AS BIGINT) AS min_degree,
           CAST(MAX(degree) AS BIGINT) AS max_degree
    FROM d GROUP BY 1 ORDER BY log2_band
    """,
)
def q_trade_degree_distribution(spark, t):
    """Supplier reach distribution: distinct customers served per
    supplier, bucketed into log2 degree bands — the bipartite-graph
    degree histogram that sizes skew before any supplier-grain join
    (lineitem_suppkey_skew measures row skew; this measures
    relationship fan-out).

    Scale shape: fact-fact equi-join on the order key, distinct on
    the BARE (suppkey, custkey) edge (text/values never move), one
    supplier-grain count, then a bounded ~15-band rollup."""
    e = (
        t["lineitem"]
        .select("l_suppkey", "l_orderkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.col("o_custkey").alias("custkey"),
        )
        .distinct()
    )
    d = e.groupBy("suppkey").agg(F.count(F.lit(1)).alias("degree"))
    return (
        d.groupBy(
            F.floor(F.log(F.col("degree")) / F.log(F.lit(2.0)))
            .cast("long")
            .alias("log2_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.min("degree").cast("long").alias("min_degree"),
            F.max("degree").cast("long").alias("max_degree"),
        )
        .orderBy("log2_band")
    )


# --------------------------------------------------------------------------
# Order fulfilment span histogram (multi-line orders only)
# --------------------------------------------------------------------------

@query(
    "order_ship_span_histogram",
    oracle="""
    WITH s AS (
        SELECT l_orderkey,
               CAST(MAX(l_shipdate) AS DATE) AS last_ship,
               CAST(MIN(l_shipdate) AS DATE) AS first_ship,
               COUNT(*) AS n_lines
        FROM lineitem GROUP BY l_orderkey
    ),
    b AS (
        SELECT CAST(last_ship - first_ship AS BIGINT) AS span_days
        FROM s WHERE n_lines >= 2
    )
    SELECT CASE WHEN span_days = 0 THEN 'a_same_day'
                WHEN span_days <= 7 THEN 'b_week'
                WHEN span_days <= 30 THEN 'c_month'
                WHEN span_days <= 90 THEN 'd_quarter'
                ELSE 'e_longer' END AS span_band,
           COUNT(*) AS n_orders,
           CAST(FLOOR(SUM(span_days) * 1.0 / COUNT(*)) AS BIGINT)
               AS avg_span_days_trunc
    FROM b GROUP BY 1 ORDER BY span_band
    """,
)
def q_order_ship_span_histogram(spark, t):
    """Fulfilment span per multi-line order: days between the first
    and last line shipment — the split-shipment profile behind
    warehouse consolidation decisions (ship_delay_days measures
    order->ship latency; this measures intra-order spread).

    Scale shape: one order-grain map-combined min/max rollup, the
    day-diff via the portable CAST(date - date AS BIGINT) lever, then
    a bounded 5-band rollup with a truncated-average (exact integer)
    mean."""
    s = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.max(F.col("l_shipdate").cast("date")).alias("last_ship"),
            F.min(F.col("l_shipdate").cast("date")).alias("first_ship"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .filter(F.col("n_lines") >= 2)
        .select(
            F.datediff(F.col("last_ship"), F.col("first_ship"))
            .cast("long")
            .alias("span_days")
        )
    )
    band = (
        F.when(F.col("span_days") == 0, "a_same_day")
        .when(F.col("span_days") <= 7, "b_week")
        .when(F.col("span_days") <= 30, "c_month")
        .when(F.col("span_days") <= 90, "d_quarter")
        .otherwise("e_longer")
    )
    return (
        s.groupBy(band.alias("span_band"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.floor(F.sum("span_days") * 1.0 / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_span_days_trunc"),
        )
        .orderBy("span_band")
    )


# --------------------------------------------------------------------------
# Nation actor census (two aggregates stitched on the dim)
# --------------------------------------------------------------------------

@query(
    "nation_actor_census",
    oracle="""
    WITH c AS (
        SELECT c_nationkey AS nk, COUNT(*) AS n_customers,
               SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS cust_bal_cents
        FROM customer GROUP BY 1
    ),
    s AS (
        SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers,
               SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS supp_bal_cents
        FROM supplier GROUP BY 1
    )
    SELECT n.n_name AS nation,
           CAST(COALESCE(c.n_customers, 0) AS BIGINT) AS n_customers,
           CAST(COALESCE(s.n_suppliers, 0) AS BIGINT) AS n_suppliers,
           CAST(COALESCE(c.cust_bal_cents, 0) AS BIGINT) AS cust_bal_cents,
           CAST(COALESCE(s.supp_bal_cents, 0) AS BIGINT) AS supp_bal_cents
    FROM nation n
    LEFT JOIN c ON c.nk = n.n_nationkey
    LEFT JOIN s ON s.nk = n.n_nationkey
    ORDER BY nation
    """,
)
def q_nation_actor_census(spark, t):
    """Per-nation actor census: customer and supplier head-counts with
    their account-balance mass, stitched on the nation dim — the
    supply/demand imbalance table (nation_trade_balance tracks traded
    value; this tracks the actor base itself).

    Scale shape: two independent map-combined nation-grain rollups
    (25 rows each) broadcast-joined onto the nation dim — no
    fact-fact join at all."""
    c = t["customer"].groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(cents("c_acctbal")).alias("cust_bal_cents"),
    )
    s = t["supplier"].groupBy(F.col("s_nationkey").alias("nk2")).agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(cents("s_acctbal")).alias("supp_bal_cents"),
    )
    return (
        t["nation"]
        .join(F.broadcast(c), F.col("nk") == F.col("n_nationkey"), "left")
        .join(F.broadcast(s), F.col("nk2") == F.col("n_nationkey"), "left")
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce("n_customers", F.lit(0)).cast("long").alias(
                "n_customers"
            ),
            F.coalesce("n_suppliers", F.lit(0)).cast("long").alias(
                "n_suppliers"
            ),
            F.coalesce("cust_bal_cents", F.lit(0)).cast("long").alias(
                "cust_bal_cents"
            ),
            F.coalesce("supp_bal_cents", F.lit(0)).cast("long").alias(
                "supp_bal_cents"
            ),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# Events: value distribution, sessionization depth, engagement
# --------------------------------------------------------------------------

@query(
    "event_value_percentiles_by_type",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(AVG(value), 4) AS avg_value,
           ROUND(percentile_cont(0.25) WITHIN GROUP (ORDER BY value), 4)
               AS p25,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 4)
               AS p50,
           ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY value), 4)
               AS p95
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_event_value_percentiles_by_type(spark, t):
    """Value distribution per event type: exact quartiles and the p95
    tail — the monetization profile behind the funnel counts
    (segment_event_revenue sums value; this shows its shape, so a
    purchase-value regression is visible before the sum moves).

    Scale shape: one type-grain rollup with single-pass exact
    percentiles (5 groups) — rank-based aggregates, deterministic
    across engines."""
    e = t["events"].filter(F.col("value").isNotNull())
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        )
        .orderBy("event_type")
    )


@query(
    "sessions_per_user_histogram",
    oracle="""
    WITH ev AS (
        SELECT user_id, ts, event_id,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events WHERE user_id IS NOT NULL
    ),
    marked AS (
        SELECT user_id,
               CASE WHEN prev_ts IS NULL
                         OR ts > prev_ts + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM ev
    ),
    per_user AS (
        SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions
        FROM marked GROUP BY user_id
    )
    SELECT CAST(LEAST(n_sessions, 10) AS BIGINT) AS sessions_band,
           COUNT(*) AS n_users,
           CAST(SUM(n_sessions) AS BIGINT) AS n_sessions_total
    FROM per_user GROUP BY 1 ORDER BY sessions_band
    """,
)
def q_sessions_per_user_histogram(spark, t):
    """Sessions-per-user histogram under 30-minute gap sessionization
    (bands capped at 10+) — the engagement-frequency distribution the
    per-session conversion KPI (session_conversion_stats) averages
    away: a fat 1-session band is an acquisition funnel, a fat 10+
    band is a retention product.

    Scale shape: the lag flag runs in ONE user-partitioned window
    (single key shuffle), session counts are a user-grain SUM of the
    flags (no island window needed — only counts survive), then a
    bounded 10-band rollup."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (
        t["events"]
        .filter(F.col("user_id").isNotNull())
        .withColumn("prev_ts", F.lag("ts").over(w))
        .select(
            "user_id",
            F.when(
                F.col("prev_ts").isNull()
                | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTE")),
                1,
            ).otherwise(0).alias("new_s"),
        )
    )
    per_user = ev.groupBy("user_id").agg(
        F.sum("new_s").cast("long").alias("n_sessions")
    )
    return (
        per_user.groupBy(
            F.least(F.col("n_sessions"), F.lit(10)).cast("long").alias(
                "sessions_band"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_sessions").cast("long").alias("n_sessions_total"),
        )
        .orderBy("sessions_band")
    )


@query(
    "event_interarrival_by_type",
    oracle="""
    WITH ev AS (
        SELECT event_type, user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT)
               - CAST(FLOOR(epoch(LAG(ts) OVER (
                     PARTITION BY user_id, event_type
                     ORDER BY ts, event_id))) AS BIGINT) AS gap_s
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT event_type,
           COUNT(*) AS n_gaps,
           CAST(FLOOR(SUM(gap_s) * 1.0 / COUNT(*)) AS BIGINT)
               AS avg_gap_s_trunc,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_s), 1)
               AS p50_gap_s,
           ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY gap_s), 1)
               AS p95_gap_s
    FROM ev WHERE gap_s IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_event_interarrival_by_type(spark, t):
    """Inter-arrival gaps within each user's per-type event stream
    (seconds): the cadence fingerprint that separates organic clicks
    from scripted ones and sizes streaming state-retention windows
    (event_disorder_profile measures cross-user disorder; this
    measures within-stream tempo). Oracle is NONPORTABLE by reason:
    epoch seconds have no common Spark/DuckDB SQL form (DuckDB cannot
    CAST(INTERVAL AS BIGINT)); engine side uses CAST(ts AS LONG).

    Scale shape: one (user, type)-partitioned lag window (single key
    shuffle), then a bounded 5-type rollup with exact truncated means
    and rank-based percentiles."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    ev = (
        t["events"]
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            (
                F.col("ts").cast("long")
                - F.lag(F.col("ts").cast("long")).over(w)
            ).alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.floor(F.sum("gap_s") * 1.0 / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_gap_s_trunc"),
            F.round(F.expr("percentile(gap_s, 0.5)"), 1).alias("p50_gap_s"),
            F.round(F.expr("percentile(gap_s, 0.95)"), 1).alias("p95_gap_s"),
        )
        .orderBy("event_type")
    )


@query(
    "user_stickiness_dau_wau",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
        FROM events WHERE user_id IS NOT NULL
    ),
    days AS (SELECT DISTINCT d AS day FROM du),
    wau AS (
        SELECT days.day, COUNT(DISTINCT du.user_id) AS wau
        FROM days JOIN du ON du.d BETWEEN days.day - 6 AND days.day
        GROUP BY days.day
    ),
    dau AS (SELECT d AS day, COUNT(*) AS dau FROM du GROUP BY d)
    SELECT dau.day AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           ROUND(CAST(dau.dau AS DOUBLE) * 100.0 / wau.wau, 4)
               AS stickiness_pct
    FROM dau JOIN wau ON wau.day = dau.day
    ORDER BY dau.day
    """,
)
def q_user_stickiness_dau_wau(spark, t):
    """DAU/WAU stickiness per day: daily actives over trailing-7-day
    actives — the engagement-quality ratio product reviews live on
    (weekly_active_users tracks WAU level; the ratio is what moves
    when usage shifts from habitual to episodic).

    Scale shape: the fact collapses to the BOUNDED (day, user)
    distinct frame first (one shuffle); the trailing window is a
    broadcast range join of the ~day-count calendar against that
    frame (never a fact-grain window), then day-grain rollups."""
    du = (
        t["events"]
        .filter(F.col("user_id").isNotNull())
        .select(F.col("ts").cast("date").alias("d"), "user_id")
        .distinct()
    )
    days = du.select(F.col("d").alias("day")).distinct()
    wau = (
        du.join(
            F.broadcast(days),
            (F.col("d") >= F.date_sub(F.col("day"), 6))
            & (F.col("d") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    dau = du.groupBy(F.col("d").alias("day2")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    return (
        dau.join(wau, F.col("day") == F.col("day2"))
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(
                F.col("dau").cast("double") * 100.0 / F.col("wau"), 4
            ).alias("stickiness_pct"),
        )
        .orderBy("day")
    )


@query(
    "event_minute_spike_audit",
    oracle="""
    WITH m AS (
        SELECT event_type,
               substr(CAST(ts AS STRING), 1, 16) AS minute,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               AVG(n) AS mu,
               stddev_samp(n) AS sigma
        FROM m GROUP BY event_type
    )
    SELECT m.event_type,
           COUNT(*) AS n_minutes,
           CAST(SUM(CASE WHEN m.n > s.mu + 3 * s.sigma
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_spike_minutes,
           CAST(MAX(m.n) AS BIGINT) AS max_minute_events
    FROM m JOIN stats s ON s.event_type = m.event_type
    GROUP BY m.event_type ORDER BY m.event_type
    """,
)
def q_event_minute_spike_audit(spark, t):
    """Minute-grain load-spike audit per event type: minutes whose
    event count exceeds the type's mean + 3 sigma — the batch twin of
    a streaming anomaly monitor and the sizing input for rate limits
    (event_volume_anomalies works at day grain; bursts live at
    minutes).

    Scale shape: the fact collapses to the BOUNDED (type, minute)
    grain first (calendar-bounded rows), per-type moments are a 5-row
    broadcast joined back over that grain, then a bounded rollup."""
    m = t["events"].groupBy(
        "event_type",
        F.substring(F.col("ts").cast("string"), 1, 16).alias("minute"),
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = m.groupBy(F.col("event_type").alias("et2")).agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma")
    )
    return (
        m.join(F.broadcast(stats), F.col("et2") == F.col("event_type"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_minutes"),
            F.sum(
                F.when(
                    F.col("n") > F.col("mu") + 3 * F.col("sigma"), 1
                ).otherwise(0)
            ).cast("long").alias("n_spike_minutes"),
            F.max("n").cast("long").alias("max_minute_events"),
        )
        .orderBy("event_type")
    )


@query(
    "error_share_by_hour",
    oracle="""
    SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors,
           ROUND(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                      AS DOUBLE) * 100.0 / COUNT(*), 4) AS error_share_pct
    FROM events GROUP BY 1 ORDER BY hour_of_day
    """,
)
def q_error_share_by_hour(spark, t):
    """Error share by hour of day (24 rows): when in the day the
    platform degrades — a diurnal error concentration separates
    load-correlated failures from deploy-correlated ones
    (activity_heatmap shows volume; this shows failure mix).

    Scale shape: map-side hour extraction + conditional count, one
    bounded 24-row rollup — pure map-combine, single shuffle."""
    err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return (
        t["events"]
        .groupBy(F.hour("ts").cast("long").alias("hour_of_day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            err.cast("long").alias("n_errors"),
            F.round(
                err.cast("double") * 100.0 / F.count(F.lit(1)), 4
            ).alias("error_share_pct"),
        )
        .orderBy("hour_of_day")
    )


# --------------------------------------------------------------------------
# Documents: structure, density, inequality, packing, boilerplate
# --------------------------------------------------------------------------

@query(
    "doc_line_stats_by_source",
    oracle="""
    WITH d AS (
        SELECT source, text,
               length(text) - length(replace(text, chr(10), '')) + 1
                   AS n_lines
        FROM documents WHERE text IS NOT NULL AND length(text) > 0
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_lines) AS BIGINT) AS total_lines,
           CAST(FLOOR(SUM(n_lines) * 1.0 / COUNT(*)) AS BIGINT)
               AS avg_lines_trunc,
           CAST(FLOOR(SUM(length(text)) * 1.0 / SUM(n_lines)) AS BIGINT)
               AS avg_chars_per_line_trunc,
           CAST(MAX(n_lines) AS BIGINT) AS max_lines
    FROM d GROUP BY source ORDER BY source
    """,
)
def q_doc_line_stats_by_source(spark, t):
    """Line structure per source: newline-delimited line counts and
    mean line width — the layout fingerprint that separates prose
    crawls from tables/code dumps before any tokenizer runs
    (doc_sentence_stats works at sentence grain; lines are the
    pre-linguistic structure). Newlines counted with the portable
    replace-difference lever on chr(10) — regex counting is banned.

    Scale shape: map-side string arithmetic per document (text never
    shuffles — only integer counts), one bounded source-grain rollup
    with exact truncated means."""
    d = (
        ensure_parallelism(t["documents"])
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            "source",
            F.length("text").alias("n_chars_t"),
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit("\n")))
                + 1
            ).alias("n_lines"),
        )
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_lines").cast("long").alias("total_lines"),
            F.floor(F.sum("n_lines") * 1.0 / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_lines_trunc"),
            F.floor(F.sum("n_chars_t") * 1.0 / F.sum("n_lines"))
            .cast("long")
            .alias("avg_chars_per_line_trunc"),
            F.max("n_lines").cast("long").alias("max_lines"),
        )
        .orderBy("source")
    )


@query(
    "doc_digit_density_by_lang",
    oracle="""
    WITH d AS (
        SELECT lang, text,
               length(text)
               - length(replace(replace(replace(replace(replace(
                         replace(replace(replace(replace(replace(
                         text, '0', ''), '1', ''), '2', ''), '3', ''),
                         '4', ''), '5', ''), '6', ''), '7', ''),
                         '8', ''), '9', '')) AS n_digits
        FROM documents WHERE text IS NOT NULL AND length(text) > 0
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_digits) AS BIGINT) AS total_digits,
           ROUND(CAST(SUM(n_digits) AS DOUBLE) * 100.0
                 / SUM(length(text)), 4) AS digit_share_pct,
           CAST(SUM(CASE WHEN n_digits * 10 > length(text)
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_digit_heavy_docs
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def q_doc_digit_density_by_lang(spark, t):
    """Digit density per language: share of characters that are
    digits, plus docs that are >10% digits — the numeric-boilerplate
    signal (price lists, log dumps, sports tables) that Gopher-style
    quality rules threshold but never localize by language. Counted
    with ten replace-difference passes (the portable lever; regex
    counting is banned).

    Scale shape: map-side string arithmetic, one bounded lang-grain
    rollup — text never shuffles, only integer counts."""
    s = F.col("text")
    for ch in "0123456789":
        s = F.replace(s, F.lit(ch))
    d = (
        ensure_parallelism(t["documents"])
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            "lang",
            F.length("text").alias("n_chars_t"),
            (F.length("text") - F.length(s)).alias("n_digits"),
        )
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_digits").cast("long").alias("total_digits"),
            F.round(
                F.sum("n_digits").cast("double")
                * 100.0
                / F.sum("n_chars_t"),
                4,
            ).alias("digit_share_pct"),
            F.sum(
                F.when(
                    F.col("n_digits") * 10 > F.col("n_chars_t"), 1
                ).otherwise(0)
            ).cast("long").alias("n_digit_heavy_docs"),
        )
        .orderBy("lang")
    )


_PAD_LENGTHS = [128, 256, 512, 1024]


@query(
    "doc_padding_waste_curve",
    oracle=f"""
    WITH cfg(max_len) AS (
        VALUES {", ".join(f"({v})" for v in _PAD_LENGTHS)}
    ),
    d AS (
        SELECT length(trim(text))
               - length(replace(trim(text), ' ', '')) + 1 AS n_tokens
        FROM documents
        WHERE text IS NOT NULL AND length(trim(text)) > 0
    ),
    w AS (
        SELECT cfg.max_len,
               d.n_tokens,
               CAST(FLOOR((d.n_tokens + cfg.max_len - 1) * 1.0
                          / cfg.max_len) AS BIGINT) * cfg.max_len
                   AS padded
        FROM d, cfg
    )
    SELECT CAST(max_len AS BIGINT) AS max_len,
           CAST(SUM(n_tokens) AS BIGINT) AS token_mass,
           CAST(SUM(padded) AS BIGINT) AS padded_mass,
           ROUND(CAST(SUM(padded) - SUM(n_tokens) AS DOUBLE) * 100.0
                 / SUM(padded), 4) AS waste_pct
    FROM w GROUP BY max_len ORDER BY max_len
    """,
)
def q_doc_padding_waste_curve(spark, t):
    """Padding-waste curve: for each candidate sequence length, the
    share of a padded-batch token budget wasted when every document is
    chunked to ceil(tokens/L) sequences of length L — the number that
    picks a training sequence length before any packing
    (doc_sequence_pack implements greedy packing; this bounds what
    naive padding costs at each L). Token counts use the portable
    space-arithmetic lever.

    Scale shape: map-side token counting, a broadcast 4-row config
    cross join, one bounded rollup in exact integers (ceil via the
    non-negative FLOOR-division lever)."""
    s = F.trim(F.col("text"))
    d = (
        ensure_parallelism(t["documents"])
        .filter(F.col("text").isNotNull() & (F.length(s) > 0))
        .select(
            (
                F.length(s) - F.length(F.replace(s, F.lit(" "))) + 1
            ).alias("n_tokens")
        )
    )
    cfg = spark.createDataFrame(
        [(v,) for v in _PAD_LENGTHS], "max_len INT"
    )
    padded = (
        F.floor(
            (F.col("n_tokens") + F.col("max_len") - 1) * 1.0
            / F.col("max_len")
        ).cast("long")
        * F.col("max_len")
    )
    return (
        d.crossJoin(F.broadcast(cfg))
        .select(
            F.col("max_len").cast("long").alias("max_len"),
            "n_tokens",
            padded.alias("padded"),
        )
        .groupBy("max_len")
        .agg(
            F.sum("n_tokens").cast("long").alias("token_mass"),
            F.sum("padded").cast("long").alias("padded_mass"),
            F.round(
                (F.sum("padded") - F.sum("n_tokens")).cast("double")
                * 100.0
                / F.sum("padded"),
                4,
            ).alias("waste_pct"),
        )
        .orderBy("max_len")
    )


@query(
    "doc_id_continuity_audit",
    oracle="""
    SELECT CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT doc_id) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) AS n_dup_rows,
           CAST(MAX(doc_id) - MIN(doc_id) + 1 - COUNT(DISTINCT doc_id)
                AS BIGINT) AS n_gaps,
           CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_null_ids
    FROM documents
    """,
)
def q_doc_id_continuity_audit(spark, t):
    """Document-id continuity audit: duplicates, range gaps, and null
    keys in one scalar row — the ingest-completeness gate a sharded
    crawl loader runs before any dedup (a gap means a lost shard;
    referential_integrity_audit covers the relational tables, not the
    corpus).

    Scale shape: ONE map-combined scalar aggregate over the bare id
    column — no joins, no windows, column-pruned scan."""
    d = t["documents"]
    return d.agg(
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("doc_id").alias("n_distinct"),
        (F.count(F.lit(1)) - F.count_distinct("doc_id"))
        .cast("long")
        .alias("n_dup_rows"),
        (
            F.max("doc_id")
            - F.min("doc_id")
            + 1
            - F.count_distinct("doc_id")
        ).cast("long").alias("n_gaps"),
        (F.count(F.lit(1)) - F.count("doc_id")).cast("long").alias(
            "n_null_ids"
        ),
    )


@query(
    "doc_token_mass_gini_by_source",
    oracle="""
    WITH d AS (
        SELECT source,
               length(trim(text)) - length(replace(trim(text), ' ', ''))
               + 1 AS n_tokens,
               doc_id
        FROM documents
        WHERE text IS NOT NULL AND length(trim(text)) > 0
    ),
    g AS (
        SELECT source, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_tokens, doc_id) AS i,
               COUNT(*) OVER (PARTITION BY source) AS k,
               SUM(n_tokens) OVER (PARTITION BY source) AS total
        FROM d
    )
    SELECT source,
           CAST(MAX(k) AS BIGINT) AS n_docs,
           CAST(MAX(total) AS BIGINT) AS token_mass,
           ROUND(SUM((2.0 * i - k - 1) * n_tokens)
                 / (CAST(MAX(k) AS DOUBLE) * MAX(total)), 4)
               AS token_gini
    FROM g GROUP BY source ORDER BY source
    """,
)
def q_doc_token_mass_gini_by_source(spark, t):
    """Token-mass inequality per source (Gini over per-document token
    counts): a source whose token mass concentrates in a few huge
    documents needs chunk-grain sampling, not doc-grain — the
    LLM-data twin of part_revenue_gini, computed with the same
    rank-formula (no pairwise differences).

    Scale shape: map-side token counts, source-partitioned rank
    windows (one key shuffle serves all three), then a bounded
    source-grain rollup."""
    s = F.trim(F.col("text"))
    d = (
        ensure_parallelism(t["documents"])
        .filter(F.col("text").isNotNull() & (F.length(s) > 0))
        .select(
            "source",
            "doc_id",
            (
                F.length(s) - F.length(F.replace(s, F.lit(" "))) + 1
            ).alias("n_tokens"),
        )
    )
    wp = Window.partitionBy("source")
    wr = wp.orderBy("n_tokens", "doc_id")
    g = d.select(
        "source",
        "n_tokens",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wp).alias("k"),
        F.sum("n_tokens").over(wp).alias("total"),
    )
    return (
        g.groupBy("source")
        .agg(
            F.max("k").cast("long").alias("n_docs"),
            F.max("total").cast("long").alias("token_mass"),
            F.round(
                F.sum(
                    (2.0 * F.col("i") - F.col("k") - 1) * F.col("n_tokens")
                )
                / (F.max("k").cast("double") * F.max("total")),
                4,
            ).alias("token_gini"),
        )
        .orderBy("source")
    )


@query("doc_boilerplate_sentences", oracle=None)  # attached below
def q_doc_boilerplate_sentences(spark, t):
    """Top-20 most repeated sentences across the corpus (by md5, so
    sentence text never shuffles): the boilerplate hit-list a crawl
    cleaner strips first — doc_sentence_dedup_rate says HOW MUCH
    repetition each source carries; this says WHAT repeats and how
    many sources share it (cross-source repetition = template, not
    quotation). Singletons are kept so the list is populated at every
    SF (n_occurrences = 1 marks them); ordering is total via the md5
    prefix tie-break.

    Scale shape: split + explode map-side; only (md5, source, length)
    shuffle into a hash-grain rollup; TakeOrdered top-20 — never a
    global sort, never sentence text on the wire."""
    sents = (
        ensure_parallelism(t["documents"])
        .filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(F.split(F.col("text"), r"\. ")).alias("sent"),
        )
        .filter(F.length("sent") >= 20)
        .select(
            "source",
            F.md5("sent").alias("h"),
            F.length("sent").alias("sent_len"),
        )
    )
    return (
        sents.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("source").alias("n_sources"),
            F.min("sent_len").cast("long").alias("sent_len"),
        )
        .select(
            F.substring("h", 1, 8).alias("sent_md5_prefix"),
            "n_occurrences",
            "n_sources",
            "sent_len",
        )
        .orderBy(
            F.desc("n_occurrences"), F.asc("sent_md5_prefix")
        )
        .limit(20)
    )


ORACLES["doc_boilerplate_sentences"] = """
    WITH sp AS (
        SELECT d.source, split_part(d.text, '. ', CAST(t.i AS INT)) AS sent
        FROM documents d, range(1, 32) t(i)
        WHERE d.text IS NOT NULL AND t.i <= (length(d.text)
              - length(replace(d.text, '. ', ''))) / 2 + 1
    ),
    s AS (
        SELECT source, md5(sent) AS h, length(sent) AS sent_len
        FROM sp WHERE length(sent) >= 20
    ),
    g AS (
        SELECT h,
               COUNT(*) AS n_occurrences,
               COUNT(DISTINCT source) AS n_sources,
               CAST(MIN(sent_len) AS BIGINT) AS sent_len
        FROM s GROUP BY h
    )
    SELECT substr(h, 1, 8) AS sent_md5_prefix,
           n_occurrences, n_sources, sent_len
    FROM g
    ORDER BY n_occurrences DESC, sent_md5_prefix
    LIMIT 20
"""


# --------------------------------------------------------------------------
# Embeddings: PQ code entropy, IVF residuals, kNN confusion, centroid
# separation, int8 saturation
# --------------------------------------------------------------------------

@query("emb_pq_code_entropy", oracle=None)  # attached below
def q_emb_pq_code_entropy(spark, t):
    """Per-subspace PQ code-usage entropy (bits) and top-code share:
    a subspace whose codes collapse onto a few entries wastes its
    byte of the PQ budget — emb_pq_subspace_distortion localizes
    reconstruction error; this localizes CAPACITY loss, the knob that
    says 'retrain this subquantizer' (entropy near log2(K)=4 bits is
    healthy).

    Scale shape: reuses the broadcast-codebook map-side assignment of
    emb_pq_codes (one shuffle of PQ_M short rows per vector), then
    bounded (m, code) and m-grain rollups — the entropy sum is over
    at most PQ_K=16 terms per subspace."""
    from .round3_queries import _pq_codes

    emb = ensure_parallelism(t["embeddings"])
    cc = _pq_codes(emb).groupBy("m", "code").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cc.groupBy(F.col("m").alias("m2")).agg(
        F.sum("n").alias("nt")
    )
    p = F.col("n").cast("double") / F.col("nt")
    return (
        cc.join(F.broadcast(tot), F.col("m2") == F.col("m"))
        .groupBy(F.col("m").cast("long").alias("m"))
        .agg(
            F.max("nt").cast("long").alias("n_vectors"),
            F.count(F.lit(1)).alias("n_codes_used"),
            F.round(
                -F.sum(p * F.log(p)) / F.log(F.lit(2.0)), 4
            ).alias("entropy_bits"),
            F.round(
                F.max("n").cast("double") * 100.0 / F.max("nt"), 4
            ).alias("top_code_share_pct"),
        )
        .orderBy("m")
    )


from .round3_queries import _PQ_CTES as _PQ_CTES8  # noqa: E402

ORACLES["emb_pq_code_entropy"] = f"""
    WITH {_PQ_CTES8},
    cc AS (SELECT m, code, COUNT(*) AS n FROM best GROUP BY m, code),
    tot AS (SELECT m AS m2, SUM(n) AS nt FROM cc GROUP BY m)
    SELECT CAST(cc.m AS BIGINT) AS m,
           CAST(MAX(tot.nt) AS BIGINT) AS n_vectors,
           COUNT(*) AS n_codes_used,
           ROUND(-SUM((CAST(cc.n AS DOUBLE) / tot.nt)
                      * LN(CAST(cc.n AS DOUBLE) / tot.nt)) / LN(2), 4)
               AS entropy_bits,
           ROUND(CAST(MAX(cc.n) AS DOUBLE) * 100.0 / MAX(tot.nt), 4)
               AS top_code_share_pct
    FROM cc JOIN tot ON tot.m2 = cc.m
    GROUP BY cc.m ORDER BY m
"""


_RES_LISTS = 16


@query(
    "emb_ivf_residual_norms",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    seeds AS (SELECT vec_id AS list_id, v AS cv FROM e
              WHERE vec_id < {_RES_LISTS}),
    ranked AS (
        SELECT e.vec_id, s.list_id,
               list_distance(e.v, s.cv) AS resid,
               sqrt(list_dot_product(e.v, e.v)) AS vnorm,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_distance(e.v, s.cv), s.list_id
               ) AS rn
        FROM e, seeds s
    )
    SELECT CAST(list_id AS BIGINT) AS list_id,
           COUNT(*) AS n_vecs,
           ROUND(AVG(resid), 4) AS avg_residual_norm,
           ROUND(AVG(vnorm), 4) AS avg_vector_norm,
           ROUND(AVG(resid) / AVG(vnorm), 4) AS residual_ratio
    FROM ranked WHERE rn = 1
    GROUP BY list_id ORDER BY list_id
    """,
)
def q_emb_ivf_residual_norms(spark, t):
    """Per-list IVF residual energy: average distance from each
    vector to its assigned (L2) centroid, normalized by vector norm —
    the signal that picks between flat-IVF and IVF-PQ-with-residual
    encoding (emb_ivf_list_balance sizes the lists; this scores how
    well the centroids explain them).

    Scale shape: seeds collected driver-side ({_RES_LISTS} tiny
    vectors, the broadcast-params collect), assignment is the
    zero-shuffle map-side argmin fold, residual = sqrt of the argmin
    d2 (no second pass), then one bounded list-grain rollup."""
    from ..llmdata.similarity import _as_double, dot, nearest_seed_l2

    e = ensure_parallelism(t["embeddings"]).select(
        "vec_id", _as_double("embedding").alias("v")
    )
    seeds = [
        (r["vec_id"], r["v"])
        for r in e.filter(F.col("vec_id") < _RES_LISTS).collect()
    ]
    a = e.withColumn(
        "__best", nearest_seed_l2(F.col("v"), seeds, "list_id")
    ).select(
        F.col("__best.list_id").alias("list_id"),
        F.sqrt(F.col("__best.d2")).alias("resid"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("vnorm"),
    )
    return (
        a.groupBy(F.col("list_id").cast("long").alias("list_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("resid"), 4).alias("avg_residual_norm"),
            F.round(F.avg("vnorm"), 4).alias("avg_vector_norm"),
            F.round(F.avg("resid") / F.avg("vnorm"), 4).alias(
                "residual_ratio"
            ),
        )
        .orderBy("list_id")
    )


@query("emb_knn_label_confusion", oracle=None)  # composed below
def q_emb_knn_label_confusion(spark, t):
    """1-NN label confusion pairs over the audited query set: which
    label pairs the embedding space actually confuses —
    emb_label_knn_accuracy reports one number; this names the
    offending pairs, the difference between 'retrain the encoder' and
    'merge two labels'.

    Scale shape: composes the registered brute-force cosine top-k;
    rank-1 extraction and both label joins run at query-set grain;
    final rollup is bounded by label-pair cardinality."""
    topk = QUERIES["emb_cosine_topk"](spark, t.sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    nn1 = (
        topk.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "neighbor_id")
    )
    labels = t["embeddings"].select("vec_id", "label")
    ql = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "true_label"
    )
    nl = labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
        "label", "nn_label"
    )
    return (
        nn1.join(ql, "query_id")
        .join(nl, "neighbor_id")
        .groupBy(
            F.col("true_label").cast("long").alias("true_label"),
            F.col("nn_label").cast("long").alias("nn_label"),
        )
        .agg(F.count(F.lit(1)).alias("n_queries"))
        .orderBy("true_label", "nn_label")
    )


ORACLES["emb_knn_label_confusion"] = f"""
    WITH topk AS ({ORACLES["emb_cosine_topk"]}),
    nn1 AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id) AS rn
              FROM topk)
        WHERE rn = 1
    )
    SELECT CAST(q.label AS BIGINT) AS true_label,
           CAST(n.label AS BIGINT) AS nn_label,
           COUNT(*) AS n_queries
    FROM nn1
    JOIN embeddings q ON q.vec_id = nn1.query_id
    JOIN embeddings n ON n.vec_id = nn1.neighbor_id
    GROUP BY q.label, n.label
    ORDER BY true_label, nn_label
"""


_EMB_DIMS = 64


@query(
    "emb_label_centroid_separation",
    oracle=f"""
    WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    comp AS (
        SELECT label, u.i AS i, AVG(v[u.i]) AS mu
        FROM e, UNNEST(generate_series(1, {_EMB_DIMS})) AS u(i)
        GROUP BY label, u.i
    ),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
               SUM(a.mu * b.mu) AS dp
        FROM comp a JOIN comp b ON b.i = a.i AND a.label < b.label
        GROUP BY 1, 2
    ),
    norms AS (
        SELECT label, sqrt(SUM(mu * mu)) AS nrm FROM comp GROUP BY label
    )
    SELECT CAST(d.label_a AS BIGINT) AS label_a,
           CAST(d.label_b AS BIGINT) AS label_b,
           ROUND(d.dp / (na.nrm * nb.nrm), 4) AS centroid_cos
    FROM dots d
    JOIN norms na ON na.label = d.label_a
    JOIN norms nb ON nb.label = d.label_b
    ORDER BY label_a, label_b
    """,
)
def q_emb_label_centroid_separation(spark, t):
    """Pairwise cosine between label centroids (45 pairs for 10
    labels): the class-separability matrix — two centroids with
    cosine near 1 mean the labels are not linearly separable in this
    space, the geometric explanation behind every
    emb_knn_label_confusion hotspot.

    Scale shape: the corpus collapses to the BOUNDED
    (label x dimension) component frame in one shuffle (posexplode is
    map-side); the pair join, dots, and norms all run on that
    640-row frame."""
    comp = (
        ensure_parallelism(t["embeddings"])
        .select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "x"
            ),
        )
        .groupBy("label", (F.col("pos") + 1).alias("i"))
        .agg(F.avg("x").alias("mu"))
    )
    a = comp.select(
        F.col("label").alias("label_a"),
        F.col("i").alias("ia"),
        F.col("mu").alias("mua"),
    )
    b = comp.select(
        F.col("label").alias("label_b"),
        F.col("i").alias("ib"),
        F.col("mu").alias("mub"),
    )
    dots = (
        a.join(b, (F.col("ib") == F.col("ia")) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("mua") * F.col("mub")).alias("dp"))
    )
    norms = comp.groupBy("label").agg(
        F.sqrt(F.sum(F.col("mu") * F.col("mu"))).alias("nrm")
    )
    na = norms.select(
        F.col("label").alias("la"), F.col("nrm").alias("na")
    )
    nb = norms.select(
        F.col("label").alias("lb"), F.col("nrm").alias("nb")
    )
    return (
        dots.join(F.broadcast(na), F.col("la") == F.col("label_a"))
        .join(F.broadcast(nb), F.col("lb") == F.col("label_b"))
        .select(
            F.col("label_a").cast("long").alias("label_a"),
            F.col("label_b").cast("long").alias("label_b"),
            F.round(
                F.col("dp") / (F.col("na") * F.col("nb")), 4
            ).alias("centroid_cos"),
        )
        .orderBy("label_a", "label_b")
    )


@query(
    "emb_int8_saturation_audit",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    s AS (
        SELECT vec_id, label, v,
               GREATEST(list_max(list_transform(v, x -> ABS(x))), 1e-12)
                   AS amax
        FROM e
    ),
    comps AS (
        SELECT label,
               ABS(CAST(ROUND(v[u.i] * 127.0 / amax) AS BIGINT)) AS q
        FROM s, UNNEST(generate_series(1, len(v))) AS u(i)
    )
    SELECT CAST(label AS BIGINT) AS label,
           COUNT(*) AS n_components,
           CAST(SUM(CASE WHEN q = 127 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_saturated,
           CAST(SUM(CASE WHEN q >= 120 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_near_saturated,
           ROUND(CAST(SUM(CASE WHEN q = 127 THEN 1 ELSE 0 END) AS DOUBLE)
                 * 100.0 / COUNT(*), 4) AS saturated_pct
    FROM comps GROUP BY label ORDER BY label
    """,
)
def q_emb_int8_saturation_audit(spark, t):
    """Int8 saturation audit per label under the registered absmax
    quantization scheme: components landing on the +/-127 rail (and
    the >=120 near-rail band) — a label whose mass piles on the rail
    is the one emb_int8_quant_error_by_label flags, and per-label
    rail shares decide between per-vector and per-block scaling.

    Scale shape: entirely map-side per vector (one fold computes the
    rail counts per row — no component explosion leaves the task),
    then a bounded label-grain rollup of small integers."""
    e = ensure_parallelism(t["embeddings"]).select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    amax = F.greatest(
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))),
        F.lit(1e-12),
    )
    q = lambda x: F.abs(  # noqa: E731
        F.round(x * 127.0 / F.col("amax")).cast("long")
    )
    cnt_at = lambda pred: F.aggregate(  # noqa: E731
        F.transform(F.col("v"), lambda x: F.when(pred(q(x)), 1).otherwise(0)),
        F.lit(0),
        lambda acc, z: acc + z,
    )
    per_vec = e.withColumn("amax", amax).select(
        "label",
        F.size("v").alias("n_comp"),
        cnt_at(lambda z: z == 127).alias("n_sat"),
        cnt_at(lambda z: z >= 120).alias("n_near"),
    )
    return (
        per_vec.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.sum("n_comp").cast("long").alias("n_components"),
            F.sum("n_sat").cast("long").alias("n_saturated"),
            F.sum("n_near").cast("long").alias("n_near_saturated"),
            F.round(
                F.sum("n_sat").cast("double") * 100.0 / F.sum("n_comp"), 4
            ).alias("saturated_pct"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Growth decomposition, threshold shares, dim parsing audits, overlap
# --------------------------------------------------------------------------

@query(
    "revenue_growth_decomposition",
    oracle=f"""
    WITH y AS (
        SELECT year(o_orderdate) AS yr,
               COUNT(*) AS n_orders,
               CAST(SUM({O_CENTS}) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    g AS (
        SELECT yr, n_orders, cents,
               LAG(n_orders) OVER (ORDER BY yr) AS pn,
               LAG(cents) OVER (ORDER BY yr) AS pc
        FROM y
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           CAST(n_orders AS BIGINT) AS n_orders,
           cents AS revenue_cents,
           ROUND(CAST(cents AS DOUBLE) / pc, 4) AS revenue_ratio,
           ROUND(CAST(n_orders AS DOUBLE) / pn, 4) AS volume_ratio,
           ROUND((CAST(cents AS DOUBLE) / pc)
                 / (CAST(n_orders AS DOUBLE) / pn), 4) AS value_ratio
    FROM g WHERE pn IS NOT NULL ORDER BY yr
    """,
)
def q_revenue_growth_decomposition(spark, t):
    """YoY revenue growth decomposed into volume x average-value
    factors (revenue_ratio = volume_ratio * value_ratio): did revenue
    grow because more orders came in or because orders got bigger —
    the first split a growth review makes
    (region_quarter_revenue_yoy tracks the where; this the why).

    Scale shape: one year-grain map-combined rollup (exact integer
    cents), then lag arithmetic on the BOUNDED ~7-row year frame."""
    y = t["orders"].groupBy(F.year("o_orderdate").alias("yr")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents("o_totalprice")).alias("cents"),
    )
    w = Window.orderBy("yr")
    g = y.select(
        "yr",
        "n_orders",
        "cents",
        F.lag("n_orders").over(w).alias("pn"),
        F.lag("cents").over(w).alias("pc"),
    ).filter(F.col("pn").isNotNull())
    rr = F.col("cents").cast("double") / F.col("pc")
    vr = F.col("n_orders").cast("double") / F.col("pn")
    return g.select(
        F.col("yr").cast("long").alias("yr"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("cents").alias("revenue_cents"),
        F.round(rr, 4).alias("revenue_ratio"),
        F.round(vr, 4).alias("volume_ratio"),
        F.round(rr / vr, 4).alias("value_ratio"),
    ).orderBy("yr")


@query(
    "high_value_order_share_by_nation",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey, {O_CENTS} AS cents FROM orders
    ),
    cut AS (
        SELECT percentile_cont(0.9) WITHIN GROUP (ORDER BY cents) AS p90
        FROM o
    ),
    j AS (
        SELECT n.n_name AS nation,
               CASE WHEN o.cents > k.p90 THEN 1 ELSE 0 END AS hi
        FROM o, cut k
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    )
    SELECT nation,
           COUNT(*) AS n_orders,
           CAST(SUM(hi) AS BIGINT) AS n_high_value,
           ROUND(CAST(SUM(hi) AS DOUBLE) * 100.0 / COUNT(*), 4)
               AS high_value_share_pct
    FROM j GROUP BY nation ORDER BY nation
    """,
)
def q_high_value_order_share_by_nation(spark, t):
    """Share of orders above the GLOBAL p90 order value, per nation:
    does premium demand concentrate geographically — the
    market-prioritization cut behind regional account coverage
    (revenue_by_region sums everything; this isolates the top decile
    of tickets).

    Scale shape: the p90 cutoff is ONE scalar percentile broadcast
    into the fact scan; customer and nation dims broadcast-join; one
    bounded 25-row nation rollup."""
    o = t["orders"].select(
        "o_custkey", cents("o_totalprice").alias("cents")
    )
    cut = o.agg(F.expr("percentile(cents, 0.9)").alias("p90"))
    j = (
        o.crossJoin(F.broadcast(cut))
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.when(F.col("cents") > F.col("p90"), 1).otherwise(0).alias(
                "hi"
            ),
        )
    )
    return (
        j.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("hi").cast("long").alias("n_high_value"),
            F.round(
                F.sum("hi").cast("double") * 100.0 / F.count(F.lit(1)), 4
            ).alias("high_value_share_pct"),
        )
        .orderBy("nation")
    )


@query(
    "part_type_finish_premium",
    oracle="""
    WITH p AS (
        SELECT CASE WHEN instr(p_type, ' ') > 0
                    THEN substr(p_type, 1, instr(p_type, ' ') - 1)
                    ELSE p_type END AS finish,
               CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents
        FROM part
    ),
    g AS (
        SELECT finish,
               COUNT(*) AS n_parts,
               CAST(SUM(price_cents) AS BIGINT) AS cents
        FROM p GROUP BY finish
    ),
    tot AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS tc,
               CAST(SUM(n_parts) AS BIGINT) AS tn
        FROM g
    )
    SELECT g.finish,
           g.n_parts,
           CAST(FLOOR(g.cents * 1.0 / g.n_parts) AS BIGINT)
               AS avg_price_cents_trunc,
           ROUND((g.cents * 1.0 / g.n_parts)
                 / (t.tc * 1.0 / t.tn), 4) AS premium_ratio
    FROM g, tot t ORDER BY finish
    """,
)
def q_part_type_finish_premium(spark, t):
    """Price premium by finish class (the first token of p_type, e.g.
    STANDARD/SMALL/ECONOMY...): does the finish command a premium over
    the catalog average — the attribute-level pricing read under
    part_size_price_frontier (which uses size; type's leading token is
    the other orthogonal attribute). Token extracted with the
    portable instr/substr lever — no regex split; single-token types
    (this testdata's shape) fall back to the whole p_type.

    Scale shape: map-side token extraction, one bounded finish-grain
    rollup, global baseline as a broadcast 1-row scalar."""
    pos = F.instr(F.col("p_type"), " ")
    p = t["part"].select(
        F.when(pos > 0, F.col("p_type").substr(F.lit(1), pos - 1))
        .otherwise(F.col("p_type"))
        .alias("finish"),
        cents("p_retailprice").alias("price_cents"),
    )
    g = p.groupBy("finish").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("price_cents").alias("cents"),
    )
    tot = g.agg(
        F.sum("cents").alias("tc"), F.sum("n_parts").alias("tn")
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "finish",
            "n_parts",
            F.floor(F.col("cents") * 1.0 / F.col("n_parts"))
            .cast("long")
            .alias("avg_price_cents_trunc"),
            F.round(
                (F.col("cents") * 1.0 / F.col("n_parts"))
                / (F.col("tc") * 1.0 / F.col("tn")),
                4,
            ).alias("premium_ratio"),
        )
        .orderBy("finish")
    )


@query(
    "customer_name_key_consistency",
    oracle="""
    WITH c AS (
        SELECT c_custkey,
               instr(c_name, '#') AS h,
               substr(c_name, instr(c_name, '#') + 1, 18) AS suffix
        FROM customer
    )
    SELECT COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_marker,
           CAST(SUM(CASE WHEN h > 0
                          AND TRY_CAST(suffix AS BIGINT) = c_custkey
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_key_match,
           CAST(SUM(CASE WHEN h > 0
                          AND TRY_CAST(suffix AS BIGINT) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_unparseable
    FROM c
    """,
)
def q_customer_name_key_consistency(spark, t):
    """Name-embedded-key consistency audit: 'Customer#000000042'-style
    names carry the key redundantly — parse the suffix and verify it
    round-trips to c_custkey (functional_dependency_audit tests
    column-level FDs; this tests a VALUE-level derivation rule, the
    kind denormalized feeds silently break). Tolerant numeric parse
    via TRY_CAST on both engines.

    Scale shape: ONE map-combined scalar aggregate — instr/substr
    string arithmetic per row, no joins, no windows."""
    h = F.instr(F.col("c_name"), "#")
    c = t["customer"].select(
        "c_custkey",
        h.alias("h"),
        F.expr(
            "TRY_CAST(substr(c_name, instr(c_name, '#') + 1, 18) AS BIGINT)"
        ).alias("parsed"),
    )
    return c.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(F.col("h") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_with_marker"),
        F.sum(
            F.when(
                (F.col("h") > 0) & (F.col("parsed") == F.col("c_custkey")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_key_match"),
        F.sum(
            F.when(
                (F.col("h") > 0) & F.col("parsed").isNull(), 1
            ).otherwise(0)
        ).cast("long").alias("n_unparseable"),
    )


@query(
    "event_type_user_overlap",
    oracle="""
    WITH tu AS (
        SELECT DISTINCT event_type, user_id
        FROM events WHERE user_id IS NOT NULL
    ),
    sizes AS (
        SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_both
        FROM tu a JOIN tu b
          ON b.user_id = a.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(sa.n AS BIGINT) AS n_users_a,
           CAST(sb.n AS BIGINT) AS n_users_b,
           CAST(p.n_both AS BIGINT) AS n_both,
           ROUND(CAST(p.n_both AS DOUBLE)
                 / (sa.n + sb.n - p.n_both), 4) AS user_jaccard
    FROM pairs p
    JOIN sizes sa ON sa.event_type = p.type_a
    JOIN sizes sb ON sb.event_type = p.type_b
    ORDER BY type_a, type_b
    """,
)
def q_event_type_user_overlap(spark, t):
    """User-base overlap between event types (pairwise Jaccard over
    distinct user sets): which behaviors share an audience — a low
    view/purchase overlap is a funnel leak, a high error/purchase
    overlap is a revenue-threatening bug
    (funnel counts transitions; this measures audience identity).

    Scale shape: the fact collapses to the BOUNDED (type, user)
    distinct frame first; the pair join is keyed by user over 5-row
    type fan-out (output bounded by 10 type pairs); sizes broadcast
    back."""
    tu = (
        t["events"]
        .filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
    )
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = tu.select(
        F.col("event_type").alias("type_a"), F.col("user_id").alias("ua")
    )
    b = tu.select(
        F.col("event_type").alias("type_b"), F.col("user_id").alias("ub")
    )
    pairs = (
        a.join(
            b,
            (F.col("ub") == F.col("ua"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("ta"), F.col("n").alias("n_users_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("tb"), F.col("n").alias("n_users_b")
    )
    return (
        pairs.join(F.broadcast(sa), F.col("ta") == F.col("type_a"))
        .join(F.broadcast(sb), F.col("tb") == F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.col("n_users_a").cast("long").alias("n_users_a"),
            F.col("n_users_b").cast("long").alias("n_users_b"),
            F.col("n_both").cast("long").alias("n_both"),
            F.round(
                F.col("n_both").cast("double")
                / (
                    F.col("n_users_a")
                    + F.col("n_users_b")
                    - F.col("n_both")
                ),
                4,
            ).alias("user_jaccard"),
        )
        .orderBy("type_a", "type_b")
    )
