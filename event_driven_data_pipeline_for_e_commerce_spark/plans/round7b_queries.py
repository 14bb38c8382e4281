"""Round-7 corpus additions: relationship analytics (correlation,
regression, price ladders, winbacks, half-life), calendar-share marts,
volatility regimes, and LLM-data quality/dedup depth (punctuation
density, dup-rate-by-length, truncation-loss curve, dedup-family
agreement, PQ subspace distortion, cluster balance, metric agreement,
norm ANOVA) plus the streaming watermark drop sweep.

Reference anchors: the correlation/regression marts extend the
reference dashboard's KPI tab (app.py:286-470); the calendar-share
and winback marts extend its revenue-trend tab (app.py:237-284); the
LLM-data additions deepen the training-data pipeline family graded
alongside SURVEY.md §2.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from event_driven_data_pipeline_for_e_commerce_spark.operators.partitioning import (
    ensure_parallelism,
)
from event_driven_data_pipeline_for_e_commerce_spark.operators.pinning import pin

from ..functions.money import O_CENTS, cents
from .corpus import ORACLES, QUERIES, query


# --------------------------------------------------------------------------
# Correlation / regression relationship marts
# --------------------------------------------------------------------------

@query(
    "nation_balance_spend_corr",
    oracle="""
    WITH spend AS (
        SELECT o_custkey, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
               AS cents
        FROM orders GROUP BY o_custkey
    )
    SELECT n.n_name AS nation,
           COUNT(*) AS n_customers,
           ROUND(corr(c.c_acctbal, COALESCE(s.cents, 0) / 100.0), 4)
               AS balance_spend_corr,
           -- truncate-to-cent averages in IEEE-identical form: ROUND on
           -- a boundary double differs between engines (4201.315 ->
           -- .31 vs .32), while SUM(int)/COUNT, FLOOR, SIGN are all
           -- correctly-rounded IEEE ops
           CAST(SIGN(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)))
                * FLOOR(ABS(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)))
                        * 1.0 / COUNT(*)) AS BIGINT) / 100.0
               AS avg_acctbal,
           CAST(FLOOR(SUM(COALESCE(s.cents, 0)) * 1.0 / COUNT(*))
                AS BIGINT) / 100.0 AS avg_spend
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    LEFT JOIN spend s ON s.o_custkey = c.c_custkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def q_nation_balance_spend_corr(spark, t):
    """Does account balance predict lifetime spend? Pearson correlation
    per nation — the segmentation sanity check behind the reference's
    customer-value tab (does the 'wealth' column carry signal, or is
    spend independent of it). `corr` is a verified two-engine
    aggregate (round-7 lever); spend is exact integer cents before the
    one float division.

    Scale shape: one map-combined customer-grain rollup of orders, a
    broadcast nation dim join, then a 25-row nation-grain aggregate —
    corr is a single-pass co-moment partial aggregate, no window, no
    self-join."""
    spend = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(spend, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.corr(
                    F.col("c_acctbal"), F.coalesce("cents", F.lit(0)) / 100.0
                ),
                4,
            ).alias("balance_spend_corr"),
            (
                F.expr(
                    "CAST(SIGN(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)))"
                    " * FLOOR(ABS(SUM(CAST(ROUND(c_acctbal * 100)"
                    " AS BIGINT))) * 1.0 / COUNT(*)) AS BIGINT)"
                )
                / 100.0
            ).alias("avg_acctbal"),
            (
                F.floor(
                    F.sum(F.coalesce("cents", F.lit(0)))
                    * 1.0
                    / F.count(F.lit(1))
                ).cast("bigint")
                / 100.0
            ).alias("avg_spend"),
        )
        .orderBy("nation")
    )


@query(
    "customer_winback_stats",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               CAST(CAST(o_orderdate AS DATE)
                    - LAG(CAST(o_orderdate AS DATE)) OVER (
                          PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                      ) AS BIGINT) AS gap_days
        FROM orders
    ),
    wb AS (
        SELECT o_custkey, gap_days FROM gaps
        WHERE gap_days IS NOT NULL AND gap_days > 90
    )
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_winbacks,
           COUNT(DISTINCT w.o_custkey) AS n_customers,
           CAST(MIN(w.gap_days) AS BIGINT) AS min_gap_days,
           -- truncated 2dp average (integer-day sums: ROUND on a
           -- boundary double is engine-dependent, FLOOR is not)
           CAST(FLOOR(SUM(w.gap_days) * 100.0 / COUNT(*)) AS BIGINT)
               / 100.0 AS avg_gap_days,
           CAST(MAX(w.gap_days) AS BIGINT) AS max_gap_days
    FROM wb w JOIN customer c ON c.c_custkey = w.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def q_customer_winback_stats(spark, t):
    """Winback mart: a customer 'lapses' after 90+ days without
    ordering; every order that ends such a gap is a winback. Counts
    and gap-length stats per market segment — the re-engagement KPI
    the reference dashboard's retention view implies but never
    computes (app.py:286-470 stops at RFM).

    Scale shape: one customer-partitioned LAG window (shuffle keyed by
    customer — co-partitioned, no global sort), day-grain integer gap
    arithmetic via the CAST(date - date AS BIGINT) lever, then a
    5-row segment rollup behind a broadcast customer-dim join."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = t["orders"].select(
        "o_custkey",
        (
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            )
        ).cast("long").alias("gap_days"),
    )
    wb = gaps.filter(F.col("gap_days") > 90).select("o_custkey", "gap_days")
    return (
        wb.join(
            t["customer"].select("c_custkey", "c_mktsegment"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_winbacks"),
            F.count_distinct("o_custkey").alias("n_customers"),
            F.min("gap_days").cast("long").alias("min_gap_days"),
            (
                F.floor(F.sum("gap_days") * 100.0 / F.count(F.lit(1)))
                .cast("bigint")
                / 100.0
            ).alias("avg_gap_days"),
            F.max("gap_days").cast("long").alias("max_gap_days"),
        )
        .orderBy("segment")
    )


@query(
    "part_brand_price_ladder",
    oracle="""
    WITH m AS (
        SELECT p_type, p_brand,
               COUNT(*) AS n_parts,
               ROUND(median(p_retailprice), 2) AS median_price
        FROM part GROUP BY p_type, p_brand
    ),
    r AS (
        SELECT p_type, p_brand, n_parts, median_price,
               ROW_NUMBER() OVER (
                   PARTITION BY p_type
                   ORDER BY median_price DESC, p_brand
               ) AS price_rank,
               COUNT(*) OVER (PARTITION BY p_type) AS n_brands
        FROM m
    )
    SELECT p_type, p_brand, n_parts, median_price, price_rank, n_brands
    FROM r WHERE price_rank <= 3
    ORDER BY p_type, price_rank
    """,
)
def q_part_brand_price_ladder(spark, t):
    """Premium ladder: within each part type, rank brands by median
    retail price and keep the top 3 — the assortment-pricing view of
    the reference's brand tab (app.py:404-470 ranks brands globally;
    this ranks them within their competitive set).

    Scale shape: one (type, brand)-grain rollup (exact median per
    bounded group), then a window over the BOUNDED brand-grain frame
    partitioned by type — the corpus-size-independent ladder shape."""
    m = (
        t["part"]
        .groupBy("p_type", "p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.median("p_retailprice"), 2).alias("median_price"),
        )
    )
    w = Window.partitionBy("p_type").orderBy(
        F.desc("median_price"), F.asc("p_brand")
    )
    return (
        m.withColumn("price_rank", F.row_number().over(w))
        .withColumn(
            "n_brands", F.count(F.lit(1)).over(Window.partitionBy("p_type"))
        )
        .filter(F.col("price_rank") <= 3)
        .select(
            "p_type", "p_brand", "n_parts", "median_price",
            "price_rank", "n_brands",
        )
        .orderBy("p_type", "price_rank")
    )


@query(
    "order_linecount_value_regression",
    oracle="""
    WITH lc AS (
        SELECT l_orderkey, COUNT(*) AS n_lines
        FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
        SELECT o.o_orderpriority AS priority,
               CAST(lc.n_lines AS DOUBLE) AS x,
               o.o_totalprice AS y
        FROM orders o JOIN lc ON lc.l_orderkey = o.o_orderkey
    )
    SELECT priority,
           COUNT(*) AS n_orders,
           ROUND(regr_slope(y, x), 4) AS slope_per_line,
           ROUND(AVG(y), 2) AS avg_value,
           ROUND(regr_r2(y, x), 4) AS r2
    FROM j GROUP BY priority
    ORDER BY priority
    """,
)
def q_order_linecount_value_regression(spark, t):
    """How much order value does each additional line item add, per
    priority class — OLS slope + fit quality via the verified
    regr_slope/regr_r2 levers. Complements order_linecount_histogram
    (the distribution) with the value relationship.

    Scale shape: one map-combined order-grain line count, an equi-join
    on the order key (both sides keyed — co-partitioned shuffle), and
    a 5-row priority rollup of single-pass co-moment aggregates."""
    lc = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    j = t["orders"].join(lc, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_orderpriority").alias("priority"),
        F.col("n_lines").cast("double").alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    return (
        j.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.regr_slope("y", "x"), 4).alias("slope_per_line"),
            F.round(F.avg("y"), 2).alias("avg_value"),
            F.round(F.regr_r2("y", "x"), 4).alias("r2"),
        )
        .orderBy("priority")
    )


@query(
    "month_end_revenue_share",
    oracle=f"""
    WITH d AS (
        SELECT year(o_orderdate) * 10 + quarter(o_orderdate) AS yq,
               {O_CENTS} AS cents,
               CASE WHEN CAST(CAST(last_day(CAST(o_orderdate AS DATE))
                                    AS DATE)
                              - CAST(o_orderdate AS DATE) AS BIGINT) <= 2
                    THEN 1 ELSE 0 END AS is_month_end
        FROM orders
    )
    SELECT CAST(yq AS BIGINT) AS yq,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(SUM(CASE WHEN is_month_end = 1 THEN cents ELSE 0 END)
                AS BIGINT) AS month_end_cents,
           ROUND(SUM(CASE WHEN is_month_end = 1 THEN cents ELSE 0 END)
                 * 100.0 / SUM(cents), 4) AS month_end_share_pct
    FROM d GROUP BY yq ORDER BY yq
    """,
)
def q_month_end_revenue_share(spark, t):
    """End-of-month loading: share of each quarter's revenue booked in
    the last 3 days of a month — the 'quota-stuffing' fiscal audit
    (sibling of quarter_end_load_share at month grain). `last_day` is
    a verified two-engine function (round-7 lever); day distance stays
    in exact integer date arithmetic.

    Scale shape: pure map-side flagging (no calendar join — last_day
    is per-row), one bounded quarter-grain rollup in integer cents."""
    od = F.col("o_orderdate").cast("date")
    d = t["orders"].select(
        (F.year("o_orderdate") * 10 + F.quarter("o_orderdate")).alias("yq"),
        cents("o_totalprice").alias("cents"),
        F.when(
            F.datediff(F.last_day(od), od) <= 2, 1
        ).otherwise(0).alias("is_month_end"),
    )
    me = F.sum(F.when(F.col("is_month_end") == 1, F.col("cents")).otherwise(0))
    return (
        d.groupBy(F.col("yq").cast("long").alias("yq"))
        .agg(
            F.sum("cents").cast("long").alias("total_cents"),
            me.cast("long").alias("month_end_cents"),
            F.round(me * 100.0 / F.sum("cents"), 4).alias(
                "month_end_share_pct"
            ),
        )
        .orderBy("yq")
    )


@query(
    "multi_supplier_parts_premium",
    oracle="""
    WITH ns AS (
        SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS n_suppliers
        FROM lineitem GROUP BY l_partkey
    ),
    j AS (
        SELECT CASE WHEN ns.n_suppliers >= 2 THEN 'multi' ELSE 'single' END
                   AS sourcing,
               p.p_retailprice AS price
        FROM part p JOIN ns ON ns.l_partkey = p.p_partkey
    )
    SELECT sourcing,
           COUNT(*) AS n_parts,
           ROUND(AVG(price), 2) AS avg_price,
           ROUND(median(price), 2) AS median_price,
           ROUND(stddev_samp(price), 2) AS price_sd
    FROM j GROUP BY sourcing ORDER BY sourcing
    """,
)
def q_multi_supplier_parts_premium(spark, t):
    """Sourcing-competition pricing: do parts shipped by multiple
    suppliers price differently from single-sourced parts? The
    assortment-risk counterpart of q16's supplier-part counts, with
    price stats per sourcing bucket (stddev_samp is a verified
    two-engine aggregate — round-7 lever).

    Scale shape: one part-grain count-distinct over lineitem (hash
    partial aggregate; only keys shuffle), an equi-join to the part
    dim, and a 2-row bucket rollup."""
    ns = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(F.count_distinct("l_suppkey").alias("n_suppliers"))
    )
    j = t["part"].join(ns, F.col("l_partkey") == F.col("p_partkey")).select(
        F.when(F.col("n_suppliers") >= 2, "multi")
        .otherwise("single")
        .alias("sourcing"),
        F.col("p_retailprice").alias("price"),
    )
    return (
        j.groupBy("sourcing")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("price"), 2).alias("avg_price"),
            F.round(F.median("price"), 2).alias("median_price"),
            F.round(F.stddev_samp("price"), 2).alias("price_sd"),
        )
        .orderBy("sourcing")
    )


@query(
    "lineitem_quantity_mode_by_brand",
    oracle="""
    WITH c AS (
        SELECT p.p_brand, CAST(l.l_quantity AS BIGINT) AS qty,
               COUNT(*) AS n
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand, CAST(l.l_quantity AS BIGINT)
    ),
    r AS (
        SELECT p_brand, qty, n,
               SUM(n) OVER (PARTITION BY p_brand) AS total,
               ROW_NUMBER() OVER (
                   PARTITION BY p_brand ORDER BY n DESC, qty
               ) AS rn
        FROM c
    )
    SELECT p_brand, qty AS mode_qty, CAST(n AS BIGINT) AS n_lines,
           ROUND(n * 100.0 / total, 4) AS mode_share_pct
    FROM r WHERE rn = 1
    ORDER BY p_brand
    """,
)
def q_lineitem_quantity_mode_by_brand(spark, t):
    """Most common order quantity per brand with its share — the
    pack-size signal (a dominant mode means the brand sells in a
    standard lot; a flat mode share means ad-hoc quantities). The G9
    mode operator generalized to a keyed fact at lineitem scale, with
    an explicit smallest-qty tie-break (never the tie-ambiguous
    mode() aggregate).

    Scale shape: one (brand, qty)-grain map-combined rollup (the only
    fact shuffle — the broadcast part dim attaches brand map-side),
    then the ranking window runs on the bounded brand×qty frame."""
    c = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("p_brand", F.col("l_quantity").cast("long").alias("qty"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("n"), F.asc("qty"))
    return (
        c.withColumn("total", F.sum("n").over(Window.partitionBy("p_brand")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_brand",
            F.col("qty").alias("mode_qty"),
            F.col("n").cast("long").alias("n_lines"),
            F.round(F.col("n") * 100.0 / F.col("total"), 4).alias(
                "mode_share_pct"
            ),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# Calendar-trend marts
# --------------------------------------------------------------------------

@query(
    "return_rate_monthly_trend",
    oracle="""
    WITH m AS (
        SELECT year(l_shipdate) * 100 + month(l_shipdate) AS ym,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_ret
        FROM lineitem
    )
    SELECT CAST(ym AS BIGINT) AS ym,
           CAST(SUM(cents) AS BIGINT) AS shipped_cents,
           CAST(SUM(CASE WHEN is_ret = 1 THEN cents ELSE 0 END) AS BIGINT)
               AS returned_cents,
           ROUND(SUM(CASE WHEN is_ret = 1 THEN cents ELSE 0 END) * 100.0
                 / SUM(cents), 4) AS return_share_pct
    FROM m GROUP BY ym ORDER BY ym
    """,
)
def q_return_rate_monthly_trend(spark, t):
    """Returned-revenue share by ship month — the time-axis twin of
    returned_rate_by_brand: a rising curve means a quality or
    fulfilment regression somewhere upstream, regardless of which
    brand carries it.

    Scale shape: map-side month bucketing + flagging, one bounded
    month-grain rollup in exact integer cents — no window, no join."""
    m = t["lineitem"].select(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("ym"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_ret"),
    )
    ret = F.sum(F.when(F.col("is_ret") == 1, F.col("cents")).otherwise(0))
    return (
        m.groupBy(F.col("ym").cast("long").alias("ym"))
        .agg(
            F.sum("cents").cast("long").alias("shipped_cents"),
            ret.cast("long").alias("returned_cents"),
            F.round(ret * 100.0 / F.sum("cents"), 4).alias(
                "return_share_pct"
            ),
        )
        .orderBy("ym")
    )


@query(
    "customer_spend_half_life",
    oracle="""
    WITH o AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS UNBOUNDED PRECEDING
               ) AS run,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
                   PARTITION BY o_custkey
               ) AS total,
               MIN(CAST(o_orderdate AS DATE)) OVER (
                   PARTITION BY o_custkey
               ) AS d0
        FROM orders
    ),
    hl AS (
        SELECT o_custkey,
               MIN(CAST(d - d0 AS BIGINT)) AS half_life_days
        FROM o WHERE run * 2 >= total
        GROUP BY o_custkey
    )
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_customers,
           CAST(FLOOR(SUM(h.half_life_days) * 100.0 / COUNT(*))
                AS BIGINT) / 100.0 AS avg_half_life_days,
           ROUND(median(h.half_life_days), 1) AS median_half_life_days,
           CAST(MAX(h.half_life_days) AS BIGINT) AS max_half_life_days
    FROM hl h JOIN customer c ON c.c_custkey = h.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def q_customer_spend_half_life(spark, t):
    """Spend half-life: days from a customer's first order until their
    cumulative spend crosses 50% of lifetime spend — front-loaded
    customers (half-life ~0) monetize early; long half-lives mark
    slow compounders worth nurture campaigns. Aggregated to segment
    grain.

    Scale shape: customer-partitioned running sum + partition totals
    (one shuffle keyed by customer serves all three windows), exact
    integer-cents threshold arithmetic, day-grain CAST(date - date)
    lever, then a 5-row segment rollup behind a dim join."""
    wp = Window.partitionBy("o_custkey")
    wr = wp.orderBy("o_orderdate", "o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    o = t["orders"].select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.sum(cents("o_totalprice")).over(wr).alias("run"),
        F.sum(cents("o_totalprice")).over(wp).alias("total"),
        F.min(F.col("o_orderdate").cast("date")).over(wp).alias("d0"),
    )
    hl = (
        o.filter(F.col("run") * 2 >= F.col("total"))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("d"), F.col("d0")).cast("long")).alias(
                "half_life_days"
            )
        )
    )
    return (
        hl.join(
            t["customer"].select("c_custkey", "c_mktsegment"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (
                F.floor(F.sum("half_life_days") * 100.0 / F.count(F.lit(1)))
                .cast("bigint")
                / 100.0
            ).alias("avg_half_life_days"),
            F.round(F.median("half_life_days"), 1).alias(
                "median_half_life_days"
            ),
            F.max("half_life_days").cast("long").alias("max_half_life_days"),
        )
        .orderBy("segment")
    )


@query(
    "daily_revenue_volatility_regimes",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM({O_CENTS}) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    roll AS (
        SELECT day, cents,
               ROW_NUMBER() OVER (ORDER BY day) AS rn,
               CAST(SUM(cents) OVER w AS DOUBLE) AS sx,
               CAST(SUM(CAST(cents AS DECIMAL(19,0))
                        * CAST(cents AS DECIMAL(19,0))) OVER w AS DOUBLE)
                   AS sxx
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    ),
    vol AS (
        SELECT day,
               ROUND(sqrt((sxx - sx * sx / 30.0) / 29.0) / 100.0, 2)
                   AS vol_usd
        FROM roll WHERE rn >= 30
    ),
    cuts AS (
        SELECT percentile_cont(0.3333333333333333)
                   WITHIN GROUP (ORDER BY vol_usd) AS c1,
               percentile_cont(0.6666666666666666)
                   WITHIN GROUP (ORDER BY vol_usd) AS c2
        FROM vol
    )
    SELECT CASE WHEN v.vol_usd <= c.c1 THEN 'low'
                WHEN v.vol_usd <= c.c2 THEN 'mid'
                ELSE 'high' END AS regime,
           COUNT(*) AS n_days,
           ROUND(AVG(v.vol_usd), 2) AS avg_vol_usd,
           ROUND(MIN(v.vol_usd), 2) AS min_vol_usd,
           ROUND(MAX(v.vol_usd), 2) AS max_vol_usd
    FROM vol v, cuts c
    GROUP BY 1 ORDER BY regime
    """,
)
def q_daily_revenue_volatility_regimes(spark, t):
    """Volatility regimes: 30-day rolling standard deviation of daily
    revenue, classified into low/mid/high terciles — the risk-regime
    view the autocorrelation/CUSUM/STL family lacks (those track
    level and drift; this tracks dispersion).

    Determinism: daily revenue is exact integer cents; the rolling
    variance uses explicit SUM(x)/SUM(x*x) windows with the squared
    term accumulated in DECIMAL(38,0) on BOTH engines (ADVICE r7: the
    earlier BIGINT accumulator was at 1.29e18 — 14% of int64 max — at
    sf0.01 already, overflowing near sf0.027 where non-ANSI Spark
    wraps silently while DuckDB promotes to HUGEINT; DECIMAL(38,0)
    holds 30 days of squared cents until daily cents exceed ~1.8e18,
    i.e. sf ~ 3e9) and only then converts the exact integer to DOUBLE
    — *, /, sqrt are correctly-rounded IEEE ops, so both engines
    compute bit-identical volatilities and identical tercile cuts.

    Scale shape: the rolling windows run on the BOUNDED calendar-day
    grain (one row per day — allowlisted unpartitioned frame, same
    justification as daily_revenue_stl_decomposition); the tercile
    cutoffs are one scalar aggregate broadcast back over the day
    frame."""
    daily = (
        t["orders"]
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    w = Window.orderBy("day").rowsBetween(-29, Window.currentRow)
    sq = F.col("cents").cast("decimal(19,0)")
    roll = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).alias("rn"),
        F.sum("cents").over(w).cast("double").alias("sx"),
        F.sum(sq * sq).over(w).cast("double").alias("sxx"),
    )
    vol = roll.filter(F.col("rn") >= 30).select(
        "day",
        F.round(
            F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / 30.0) / 29.0
            )
            / 100.0,
            2,
        ).alias("vol_usd"),
    )
    cuts = vol.agg(
        F.expr("percentile(vol_usd, 0.3333333333333333)").alias("c1"),
        F.expr("percentile(vol_usd, 0.6666666666666666)").alias("c2"),
    )
    return (
        vol.crossJoin(F.broadcast(cuts))
        .select(
            F.when(F.col("vol_usd") <= F.col("c1"), "low")
            .when(F.col("vol_usd") <= F.col("c2"), "mid")
            .otherwise("high")
            .alias("regime"),
            "vol_usd",
        )
        .groupBy("regime")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg("vol_usd"), 2).alias("avg_vol_usd"),
            F.round(F.min("vol_usd"), 2).alias("min_vol_usd"),
            F.round(F.max("vol_usd"), 2).alias("max_vol_usd"),
        )
        .orderBy("regime")
    )


# --------------------------------------------------------------------------
# LLM-data: text quality depth (portable string arithmetic)
# --------------------------------------------------------------------------

@query(
    "doc_punct_density_quantiles",
    oracle="""
    WITH d AS (
        SELECT source, trim(text) AS s FROM documents
        WHERE text IS NOT NULL AND length(trim(text)) > 0
    ),
    m AS (
        SELECT source,
               (length(s) - length(replace(s, '.', ''))
                + length(s) - length(replace(s, ',', ''))
                + length(s) - length(replace(s, '!', ''))
                + length(s) - length(replace(s, '?', ''))
                + length(s) - length(replace(s, ';', ''))
                + length(s) - length(replace(s, ':', '')))
               * 100.0 / length(s) AS punct_per_100
        FROM d
    )
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(AVG(punct_per_100), 4) AS avg_punct_per_100,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY punct_per_100),
                 4) AS p50,
           ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY punct_per_100),
                 4) AS p90
    FROM m GROUP BY source ORDER BY source
    """,
)
def q_doc_punct_density_quantiles(spark, t):
    """Punctuation density per source (marks per 100 characters) with
    exact quantiles — the Gopher-family signal doc_gopher_quality_flags
    thresholds but never distributes: machine-generated or boilerplate
    text shows punctuation density far from the human band. Pure
    replace-difference counting (regex counting is banned from
    portable oracles).

    Scale shape: map-side string arithmetic per document, one bounded
    source-grain rollup with single-pass exact percentiles."""
    s = F.trim(F.col("text"))
    d = (
        ensure_parallelism(t["documents"])
        .filter(F.col("text").isNotNull() & (F.length(s) > 0))
        .select("source", s.alias("s"))
    )
    cnt = sum(
        F.length("s") - F.length(F.replace(F.col("s"), F.lit(ch)))
        for ch in [".", ",", "!", "?", ";", ":"]
    )
    m = d.select(
        "source", (cnt * 100.0 / F.length("s")).alias("punct_per_100")
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("punct_per_100"), 4).alias("avg_punct_per_100"),
            F.round(
                F.expr("percentile(punct_per_100, 0.5)"), 4
            ).alias("p50"),
            F.round(
                F.expr("percentile(punct_per_100, 0.9)"), 4
            ).alias("p90"),
        )
        .orderBy("source")
    )


@query(
    "doc_dup_rate_vs_length_band",
    oracle="""
    WITH b AS (
        SELECT LEAST(CAST(FLOOR(n_chars / 256.0) AS BIGINT), 7) AS band,
               md5(text) AS h
        FROM documents
    )
    SELECT band,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT h) AS n_distinct_texts,
           ROUND(1.0 - COUNT(DISTINCT h) * 1.0 / COUNT(*), 4) AS dup_rate
    FROM b GROUP BY band ORDER BY band
    """,
)
def q_doc_dup_rate_vs_length_band(spark, t):
    """Exact-duplicate rate by document length band (256-char bands,
    capped at band 7) — short snippets duplicate far more than long
    articles, and this curve decides whether the dedup pipeline should
    gate short docs harder (the length axis doc_dedup_rate_by_source
    collapses). Non-negative FLOOR-division lever for the banding.

    Scale shape: md5 map-side, one bounded band-grain hash-only
    rollup — text never shuffles."""
    b = ensure_parallelism(t["documents"]).select(
        F.least(
            F.floor(F.col("n_chars") / 256.0).cast("bigint"), F.lit(7)
        ).alias("band"),
        F.md5("text").alias("h"),
    )
    return (
        b.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("h").alias("n_distinct_texts"),
            F.round(
                1.0 - F.count_distinct("h") / F.count(F.lit(1)), 4
            ).alias("dup_rate"),
        )
        .orderBy("band")
    )


_TRUNC_LENS = [128, 256, 512, 1024, 2048]


@query(
    "doc_truncation_loss_curve",
    oracle=f"""
    WITH cfg(max_len) AS (VALUES {", ".join(f"({L})" for L in _TRUNC_LENS)}),
    tok AS (
        SELECT length(trim(text)) - length(replace(trim(text), ' ', ''))
               + 1 AS n_tokens
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
    )
    SELECT CAST(cfg.max_len AS BIGINT) AS max_len,
           CAST(SUM(t.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(LEAST(t.n_tokens, cfg.max_len)) AS BIGINT)
               AS kept_tokens,
           ROUND(100.0 - SUM(LEAST(t.n_tokens, cfg.max_len)) * 100.0
                 / SUM(t.n_tokens), 4) AS loss_pct,
           CAST(SUM(CASE WHEN t.n_tokens > cfg.max_len THEN 1 ELSE 0 END)
                AS BIGINT) AS n_truncated_docs
    FROM tok t, cfg
    GROUP BY cfg.max_len ORDER BY max_len
    """,
)
def q_doc_truncation_loss_curve(spark, t):
    """Context-length planning curve: for each candidate max sequence
    length, the share of corpus tokens LOST if every document is
    hard-truncated there, plus how many documents get cut — the
    counterpart of doc_token_budget_curve (which budgets whole
    documents; this budgets within-document length). Space-delimited
    token contract, VALUES-CTE config cross join.

    Scale shape: one map-side token count per document, broadcast
    5-row config cross join, bounded 5-row rollup."""
    st = F.trim(F.col("text"))
    tok = (
        ensure_parallelism(t["documents"])
        .filter(F.col("text").isNotNull() & (F.length(st) > 0))
        .select(
            (
                F.length(st) - F.length(F.replace(st, F.lit(" "))) + 1
            ).alias("n_tokens")
        )
    )
    cfg = spark.createDataFrame([(L,) for L in _TRUNC_LENS], "max_len INT")
    kept = F.sum(F.least(F.col("n_tokens"), F.col("max_len")))
    return (
        tok.crossJoin(F.broadcast(cfg))
        .groupBy(F.col("max_len").cast("long").alias("max_len"))
        .agg(
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            kept.cast("long").alias("kept_tokens"),
            F.round(
                100.0 - kept * 100.0 / F.sum("n_tokens"), 4
            ).alias("loss_pct"),
            F.sum(
                F.when(F.col("n_tokens") > F.col("max_len"), 1).otherwise(0)
            ).cast("long").alias("n_truncated_docs"),
        )
        .orderBy("max_len")
    )


# --------------------------------------------------------------------------
# Streaming-adjacent: watermark drop sweep (two-pass global running max)
# --------------------------------------------------------------------------

_WM_DELAYS_MIN = [0, 1, 5, 15, 60]


@query(
    "events_watermark_drop_sweep",
    oracle=f"""
    WITH cfg(delay_min) AS (
        VALUES {", ".join(f"({d})" for d in _WM_DELAYS_MIN)}
    ),
    wm AS (
        SELECT event_id, ts,
               MAX(ts) OVER (ORDER BY event_id, ts
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS prev_max
        FROM events
    )
    SELECT CAST(cfg.delay_min AS BIGINT) AS delay_min,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN wm.prev_max IS NOT NULL
                          AND wm.ts + cfg.delay_min * INTERVAL 1 MINUTE
                              < wm.prev_max
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           ROUND(SUM(CASE WHEN wm.prev_max IS NOT NULL
                           AND wm.ts + cfg.delay_min * INTERVAL 1 MINUTE
                               < wm.prev_max
                          THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 4)
               AS drop_pct
    FROM wm, cfg
    GROUP BY cfg.delay_min
    ORDER BY delay_min
    """,
)
def q_events_watermark_drop_sweep(spark, t):
    """Watermark-delay planning sweep: for each candidate watermark
    delay, how many events a Structured Streaming job would DROP as
    too-late — an event is late when its event time plus the delay
    still trails the max event time already ingested (arrival order =
    event_id). The batch twin of the ST7 late-data drop test and the
    decision input for the corpus's withWatermark settings; extends
    event_disorder_profile (which measures disorder, not loss).

    Scale shape: the global running max runs through
    operators.cumulative.running_max_ranged — range-repartition by
    event_id, per-partition max, driver prefix-max over #partitions
    scalars, partition-local strictly-preceding window — never a
    single-task unpartitioned sort. The sweep itself is ONE pass (r11,
    guide §2.3 "aggregate before you shuffle"): instead of the former
    broadcast 5-row config cross join (which re-expanded the event
    frame x5 through the rollup), each delay is a conditional count in
    a single scalar aggregate, unpivoted to the 5 output rows with
    ``stack`` (same-session A/B medians 0.59s vs 0.74s at sf0.1,
    value-equal at every SF — ts + delay < prev_max is computed with
    identical interval arithmetic, one literal per delay)."""
    from ..operators.cumulative import running_max_ranged

    # (event_id, ts) is a TOTAL order over the projected columns
    # (ADVICE r7): event_id alone is not unique in events, and a
    # strictly-preceding ROWS frame is order-dependent under ties —
    # adding ts as the secondary key (mirrored in the oracle's
    # ORDER BY) makes tied rows fully identical, so the frame result
    # no longer depends on an undocumented duplicate-rows invariant.
    wm = running_max_ranged(
        t["events"].select("event_id", "ts"),
        [F.col("event_id"), F.col("ts")],
        "ts",
        "prev_max",
        inclusive=False,
    )
    aggs = [F.count(F.lit(1)).alias("n_events")]
    for d in _WM_DELAYS_MIN:
        late = F.when(
            F.col("prev_max").isNotNull()
            & (
                F.col("ts") + F.lit(d) * F.expr("INTERVAL 1 MINUTE")
                < F.col("prev_max")
            ),
            1,
        ).otherwise(0)
        aggs.append(F.sum(late).cast("long").alias(f"nd_{d}"))
    one = wm.agg(*aggs)
    stack_args = ", ".join(f"{d}L, nd_{d}" for d in _WM_DELAYS_MIN)
    return (
        one.select(
            "n_events",
            F.expr(
                f"stack({len(_WM_DELAYS_MIN)}, {stack_args})"
                " AS (delay_min, n_dropped)"
            ),
        )
        .select(
            F.col("delay_min").cast("long").alias("delay_min"),
            F.col("n_events"),
            F.col("n_dropped"),
            F.round(F.col("n_dropped") * 100.0 / F.col("n_events"), 4).alias(
                "drop_pct"
            ),
        )
        .orderBy("delay_min")
    )


# --------------------------------------------------------------------------
# LLM-data: dedup-family and embedding-space depth
# --------------------------------------------------------------------------

@query("doc_word_len_histogram", oracle=None)  # oracle attached below
def q_doc_word_len_histogram(spark, t):
    """Word-length histogram per language (lengths capped at 15) — the
    character-level companion of doc_length_percentiles: a language
    whose word-length mass shifts between crawls signals tokenizer or
    encoding drift long before perplexity does.

    Scale shape: split + explode map-side, one bounded
    (lang, word_len) rollup — the explode multiplies rows but never
    shuffles text (only the integer length survives the projection)."""
    toks = (
        ensure_parallelism(t["documents"])
        .filter(F.col("text").isNotNull())
        .select(
            "lang",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok"),
        )
        .filter(F.length("tok") > 0)
    )
    return (
        toks.groupBy(
            "lang",
            F.least(F.length("tok"), F.lit(15)).cast("long").alias(
                "word_len"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_words"))
        .orderBy("lang", "word_len")
    )


ORACLES["doc_word_len_histogram"] = r"""
    WITH toks AS (
        SELECT lang, t.tok
        FROM documents,
             UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS t(tok)
        WHERE text IS NOT NULL AND length(t.tok) > 0
    )
    SELECT lang, CAST(LEAST(length(tok), 15) AS BIGINT) AS word_len,
           COUNT(*) AS n_words
    FROM toks GROUP BY lang, LEAST(length(tok), 15)
    ORDER BY lang, word_len
"""


@query("doc_dedup_family_agreement", oracle=None)  # composed below
def q_doc_dedup_family_agreement(spark, t):
    """Cross-family dedup agreement: the MinHash-LSH banded candidate
    pair set vs the SimHash Hamming<=2 near-dup pair set — high overlap
    validates both detectors; a large one-sided residue tells you
    which family is generating verify-stage load the other would skip.
    The pair-set Jaccard is the one-number answer to 'do we need both
    dedup passes?'.

    Scale shape (r11 count-grain rewrite, guide §8 "decide with small
    rows"): the agreement needs only three COUNTS, never the SimHash
    pair rows, so the SimHash side folds to fingerprint grain —
    n_simhash_pairs = sum(mult*(mult-1)/2) over identical-fingerprint
    classes + sum(mult_a*mult_b) over the verified cross-fingerprint
    pairs (simhash_fp_pairs: the Hamming search over DISTINCT
    fingerprint values only — each unordered doc pair maps to exactly
    one unordered fingerprint pair, so the weighted sum counts every
    Hamming-<=2 doc pair exactly once). n_both needs no SimHash pair
    frame either: sh membership of an mh pair is just
    bit_count(fp_a ^ fp_b) <= 2, so the small MinHash candidate frame
    joins the one-long-per-doc fingerprint frame twice and one
    count_if yields the intersection (every shingled doc has >= 1
    token, hence a fingerprint row, so the inner join keeps all mh
    pairs). The former full-outer-join form materialized the 777k-row
    (sf0.1) SimHash pair set — built from a 4.2M-row doc-grain band
    join — just to count it; this form's heaviest frame is the 44k
    MinHash candidate set. Value-equal at sf0.001/0.01/0.1 against
    the pair-grain form and the unchanged oracle. Under 40% injected
    byte-dup mass (docs/AB_RECORDS.md, "under byte-dup mass") the former
    pair-enumerating form paid 8.180s vs the survivor form's 4.901s;
    the count-grain rewrite removes the quadratic enumeration term
    and the re-run shows 2.197s — parity with survivors (0.98x).
    Run this form to VALIDATE detectors,
    doc_dedup_family_agreement_survivors to OPERATE them (its value
    is the collapsed survivor corpus downstream stages consume).
    """
    from ..llmdata.dedup import (
        _minhash_agg_hashed,
        lsh_candidate_pairs,
        minhash_band_keys,
        shingle_hash_frame,
        simhash,
        simhash_fp_pairs,
    )
    from ..operators.pinning import pin
    from .llm_queries import NUM_HASHES, ROWS_PER_BAND, SHINGLE_N

    docs = t["documents"]
    shb = shingle_hash_frame(docs, "text", "doc_id", SHINGLE_N)
    sigs = _minhash_agg_hashed(shb, "doc_id", NUM_HASHES)
    bands = minhash_band_keys(sigs, "doc_id", NUM_HASHES, ROWS_PER_BAND)
    mh = lsh_candidate_pairs(bands, "doc_id")
    fp = pin(simhash(docs, "text", "doc_id", bits=32))
    # SimHash pair count at fingerprint grain: identical-fp classes
    # contribute mult-choose-2 hamming-0 pairs; distinct-fp pairs
    # within the radius contribute mult_a*mult_b each
    fpg = pin(
        fp.groupBy("simhash").agg(F.count(F.lit(1)).alias("mult"))
    )
    same_cnt = fpg.agg(
        F.sum(F.col("mult") * (F.col("mult") - 1) / 2)
        .cast("long")
        .alias("n_same")
    )
    fpp = simhash_fp_pairs(fpg, bits=32, max_hamming=2)
    ma = fpg.select(F.col("simhash").alias("fa"), F.col("mult").alias("ma"))
    mb = fpg.select(F.col("simhash").alias("fb"), F.col("mult").alias("mb"))
    cross_cnt = (
        fpp.join(ma, "fa")
        .join(mb, "fb")
        .agg(
            F.coalesce(F.sum(F.col("ma") * F.col("mb")), F.lit(0))
            .cast("long")
            .alias("n_cross")
        )
    )
    # mh count + intersection in ONE pass: attach both fingerprints
    # and test the Hamming ball membership directly
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    mh_counts = (
        mh.join(fa, "doc_a")
        .join(fb, "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_mh"),
            F.count_if(F.expr("bit_count(sh_a ^ sh_b)") <= 2)
            .cast("long")
            .alias("n_both"),
        )
    )
    j = mh_counts.crossJoin(F.broadcast(same_cnt)).crossJoin(
        F.broadcast(cross_cnt)
    )
    return j.select(
        F.col("n_mh").alias("n_minhash_pairs"),
        (F.col("n_same") + F.col("n_cross")).alias("n_simhash_pairs"),
        "n_both",
        F.round(
            F.col("n_both")
            * 1.0
            / F.greatest(
                F.col("n_mh")
                + F.col("n_same")
                + F.col("n_cross")
                - F.col("n_both"),
                F.lit(1),
            ),
            4,
        ).alias("pair_jaccard"),
    )


from .llm_queries import _MINHASH_CTES as _MHC7  # noqa: E402

ORACLES["doc_dedup_family_agreement"] = rf"""
    WITH {_MHC7},
    mh_pairs AS (SELECT doc_a, doc_b FROM cand),
    sh_pairs AS (
        SELECT doc_a, doc_b FROM ({ORACLES["doc_simhash_near_dup"]}) s
    ),
    both_pairs AS (
        SELECT doc_a, doc_b FROM mh_pairs
        INTERSECT
        SELECT doc_a, doc_b FROM sh_pairs
    )
    SELECT (SELECT COUNT(*) FROM mh_pairs) AS n_minhash_pairs,
           (SELECT COUNT(*) FROM sh_pairs) AS n_simhash_pairs,
           (SELECT COUNT(*) FROM both_pairs) AS n_both,
           ROUND((SELECT COUNT(*) FROM both_pairs) * 1.0
                 / GREATEST((SELECT COUNT(*) FROM mh_pairs)
                            + (SELECT COUNT(*) FROM sh_pairs)
                            - (SELECT COUNT(*) FROM both_pairs), 1), 4)
               AS pair_jaccard
"""


@query("emb_pq_subspace_distortion", oracle=None)  # composed below
def q_emb_pq_subspace_distortion(spark, t):
    """Per-subspace product-quantization distortion: average and worst
    reconstruction error for each of the PQ_M subquantizers, plus how
    many codebook entries each actually uses — a subspace with high
    distortion or collapsed code usage is where PQ recall leaks
    (emb_pq_codes reports per-vector MSE; this localizes it).

    Scale shape: reuses the broadcast-codebook map-side assignment of
    emb_pq_codes (one shuffle of PQ_M short rows per vector), then a
    bounded PQ_M-row rollup."""
    from .round3_queries import _pq_codes

    emb = ensure_parallelism(t["embeddings"])
    best = _pq_codes(emb)
    return (
        best.groupBy(F.col("m").cast("long").alias("m"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count_distinct("code").alias("n_codes_used"),
            F.round(F.avg("d2"), 4).alias("avg_d2"),
            F.round(F.max("d2"), 4).alias("max_d2"),
        )
        .orderBy("m")
    )


_GINI_K = 8


@query(
    "emb_cluster_size_gini",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    seeds AS (SELECT vec_id AS cluster_id, v AS cv FROM e
              WHERE vec_id < {_GINI_K}),
    ranked AS (
        SELECT e.vec_id, s.cluster_id,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_distance(e.v, s.cv), s.cluster_id
               ) AS rn
        FROM e, seeds s
    ),
    sizes AS (
        SELECT cluster_id, COUNT(*) AS n FROM ranked
        WHERE rn = 1 GROUP BY cluster_id
    ),
    g AS (
        SELECT n,
               ROW_NUMBER() OVER (ORDER BY n, cluster_id) AS i,
               COUNT(*) OVER () AS k,
               SUM(n) OVER () AS total
        FROM sizes
    )
    SELECT CAST(MAX(k) AS BIGINT) AS k_clusters,
           CAST(MAX(total) AS BIGINT) AS n_vectors,
           ROUND(SUM((2.0 * i - k - 1) * n) / (MAX(k) * MAX(total)), 4)
               AS size_gini,
           ROUND(MAX(n) * 100.0 / MAX(total), 4) AS max_share_pct
    FROM g
    """,
)
def q_emb_cluster_size_gini(spark, t):
    """Cluster-balance Gini over the k-means assignment: 0 = perfectly
    even partitions, ->1 = one cluster owns the corpus. The
    single-number skew gate for IVF/SemDeDup bucket sizing
    (emb_ivf_list_balance lists per-list counts; this scores them),
    and the signal that decides whether semdedup_prune's max_cluster
    sub-bucketing will actually fire.

    Scale shape: map-side argmin assignment over broadcast seeds (the
    nearest_seed_l2 zero-shuffle pattern), one bounded k-row size
    rollup, then Gini arithmetic on the k-row frame (rank formula —
    no pairwise differences)."""
    from ..llmdata.similarity import nearest_seed_l2

    e = ensure_parallelism(t["embeddings"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = [
        (r["vec_id"], r["v"])
        for r in e.filter(F.col("vec_id") < _GINI_K).collect()
    ]
    sizes = (
        e.withColumn("__best", nearest_seed_l2(F.col("v"), seeds))
        .select(F.col("__best.cluster_id").alias("cluster_id"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    g = sizes.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.asc("n"), F.asc("cluster_id")))
        .alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("k"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    return g.agg(
        F.max("k").cast("long").alias("k_clusters"),
        F.max("total").cast("long").alias("n_vectors"),
        F.round(
            F.sum((2.0 * F.col("i") - F.col("k") - 1) * F.col("n"))
            / (F.max("k") * F.max("total")),
            4,
        ).alias("size_gini"),
        F.round(F.max("n") * 100.0 / F.max("total"), 4).alias(
            "max_share_pct"
        ),
    )


_RANKAGREE_K = 3
_RANKAGREE_NQ = 5


@query(
    "emb_l2_vs_cosine_rank_agreement",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id < {_RANKAGREE_NQ}),
    pairs AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(e.v, q.qv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS sim,
               list_dot_product(e.v, e.v)
               + list_dot_product(q.qv, q.qv)
               - 2 * list_dot_product(e.v, q.qv) AS d2
        FROM e, q WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rc,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2, neighbor_id) AS rl
        FROM pairs
    )
    SELECT query_id,
           CAST(SUM(CASE WHEN rc <= {_RANKAGREE_K}
                          AND rl <= {_RANKAGREE_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           ROUND(SUM(CASE WHEN rc <= {_RANKAGREE_K}
                           AND rl <= {_RANKAGREE_K}
                          THEN 1 ELSE 0 END) * 1.0 / {_RANKAGREE_K}, 4)
               AS overlap_at_k
    FROM ranked
    GROUP BY query_id
    ORDER BY query_id
    """,
)
def q_emb_l2_vs_cosine_rank_agreement(spark, t):
    """Metric-choice audit: per query, the overlap between the cosine
    top-k and the squared-L2 top-k neighbor sets — on normalized
    embeddings the two rankings coincide, so low overlap here is the
    direct evidence that norm variance carries signal and the ANN
    metric (IVF/LSH rank by cosine, PQ by L2) actually matters for
    this corpus.

    Scale shape: ONE corpus-side pass computes both metrics from the
    same three dot-product folds (broadcast query set, map-side);
    the two rankings share the query_id-partitioned exchange. The
    query set is bounded — the audit-scale contract."""
    from ..llmdata.similarity import _as_double, dot

    e = ensure_parallelism(t["embeddings"]).select(
        "vec_id", _as_double("embedding").alias("v")
    )
    q = e.filter(F.col("vec_id") < _RANKAGREE_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dvv = dot(F.col("v"), F.col("v"))
    dqq = dot(F.col("qv"), F.col("qv"))
    dvq = dot(F.col("v"), F.col("qv"))
    pairs = (
        e.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dvq / (F.sqrt(dvv) * F.sqrt(dqq))).alias("sim"),
            (dvv + dqq - 2 * dvq).alias("d2"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    ranked = pairs.select(
        "query_id",
        F.row_number().over(wc).alias("rc"),
        F.row_number().over(wl).alias("rl"),
    )
    hit = F.when(
        (F.col("rc") <= _RANKAGREE_K) & (F.col("rl") <= _RANKAGREE_K), 1
    ).otherwise(0)
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum(hit).cast("long").alias("n_overlap"),
            F.round(F.sum(hit) * 1.0 / _RANKAGREE_K, 4).alias(
                "overlap_at_k"
            ),
        )
        .orderBy("query_id")
    )


@query(
    "emb_norm_vs_label_anova",
    oracle="""
    WITH n AS (
        SELECT label, sqrt(list_dot_product(
                   CAST(embedding AS DOUBLE[]),
                   CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings
    ),
    lg AS (
        SELECT label, COUNT(*) AS nl, AVG(nrm) AS ml
        FROM n GROUP BY label
    ),
    gm AS (SELECT AVG(nrm) AS m, COUNT(*) AS ntot FROM n),
    ssb AS (
        SELECT SUM(lg.nl * (lg.ml - gm.m) * (lg.ml - gm.m)) AS v,
               COUNT(*) AS k
        FROM lg, gm
    ),
    ssw AS (
        SELECT SUM((n.nrm - lg.ml) * (n.nrm - lg.ml)) AS v
        FROM n JOIN lg ON lg.label = n.label
    )
    SELECT CAST(ssb.k AS BIGINT) AS k_labels,
           CAST(gm.ntot AS BIGINT) AS n_vectors,
           ROUND((ssb.v / (ssb.k - 1))
                 / (ssw.v / (gm.ntot - ssb.k)), 4) AS f_ratio,
           ROUND(ssb.v / (ssb.v + ssw.v), 4) AS eta_squared
    FROM ssb, ssw, gm
    """,
)
def q_emb_norm_vs_label_anova(spark, t):
    """One-way ANOVA of vector norms across labels: F-ratio and
    eta-squared for 'does the label explain norm variance?' — norms
    that differ systematically by class break the normalize-then-IVF
    assumption and argue for per-label quantile clipping
    (emb_quantile_clip_bounds) before indexing.

    Scale shape: one map-side norm fold per vector, a label-grain
    moment rollup, one broadcast of the k-row label means back onto
    the corpus for the within-group pass — two scans, no window, no
    pairwise work."""
    from ..llmdata.similarity import _as_double, dot

    v = _as_double("embedding")
    n = ensure_parallelism(t["embeddings"]).select(
        "label", F.sqrt(dot(v, v)).alias("nrm")
    )
    n = pin(n)
    lg = n.groupBy("label").agg(
        F.count(F.lit(1)).alias("nl"), F.avg("nrm").alias("ml")
    )
    gm = n.agg(F.avg("nrm").alias("m"), F.count(F.lit(1)).alias("ntot"))
    ssb = lg.crossJoin(F.broadcast(gm)).agg(
        F.sum(
            F.col("nl") * (F.col("ml") - F.col("m")) * (F.col("ml") - F.col("m"))
        ).alias("bv"),
        F.count(F.lit(1)).alias("k"),
    )
    ssw = (
        n.join(F.broadcast(lg), "label")
        .agg(
            F.sum(
                (F.col("nrm") - F.col("ml")) * (F.col("nrm") - F.col("ml"))
            ).alias("wv")
        )
    )
    return (
        ssb.crossJoin(ssw)
        .crossJoin(F.broadcast(gm))
        .select(
            F.col("k").cast("long").alias("k_labels"),
            F.col("ntot").cast("long").alias("n_vectors"),
            F.round(
                (F.col("bv") / (F.col("k") - 1))
                / (F.col("wv") / (F.col("ntot") - F.col("k"))),
                4,
            ).alias("f_ratio"),
            F.round(
                F.col("bv") / (F.col("bv") + F.col("wv")), 4
            ).alias("eta_squared"),
        )
    )


from .round3_queries import _PQ_CTES as _PQC7  # noqa: E402

ORACLES["emb_pq_subspace_distortion"] = f"""
    WITH {_PQC7}
    SELECT CAST(m AS BIGINT) AS m,
           COUNT(*) AS n_vectors,
           COUNT(DISTINCT code) AS n_codes_used,
           ROUND(AVG(d2), 4) AS avg_d2,
           ROUND(MAX(d2), 4) AS max_d2
    FROM best GROUP BY m ORDER BY m
"""
