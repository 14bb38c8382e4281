"""Round-6-staged corpus additions, part 7: drift and change-point
detection — CUSUM change-point location on the daily revenue series
and PSI (population stability index) of the event-type mix between
history halves. Complements the distribution screens (chi-square,
KL, Theil) with the TIME axis: "did the process change, and when".

Parity rules: deviations and cumulative sums are exact BIGINT
end-to-end (mean via truncating integer division — both engines
divide the same exact integers); each PSI term is ONE fixed-order
double from exact integer counts, e6-rounded per category. The
history midpoint reuses the established min/max + day-offset split
(round6_queries customer_value_migration)."""

from __future__ import annotations

import pyspark.sql.functions as F

from event_driven_data_pipeline_for_e_commerce_spark.operators.cumulative import (
    running_sum_ranged,
)
from event_driven_data_pipeline_for_e_commerce_spark.operators.pinning import pin

from .corpus import query


@query(
    "daily_revenue_cusum_drift",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_e2
        FROM orders GROUP BY 1
    ),
    m AS (
        SELECT COUNT(*) AS n_days,
               CAST(SUM(rev_e2) AS BIGINT) AS tot,
               CAST(FLOOR(SUM(rev_e2) * 1.0 / COUNT(*)) AS BIGINT) AS mean_e2
        FROM daily
    ),
    c AS (
        SELECT daily.d,
               SUM(daily.rev_e2 - m.mean_e2) OVER (ORDER BY daily.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cusum_e2
        FROM daily, m
    )
    SELECT m.n_days, m.mean_e2,
           substr(CAST(c.d AS STRING), 1, 10) AS change_date,
           CAST(c.cusum_e2 AS BIGINT) AS cusum_e2,
           CAST(ABS(c.cusum_e2) AS BIGINT) AS abs_cusum_e2
    FROM c, m
    ORDER BY ABS(c.cusum_e2) DESC, c.d
    LIMIT 1
    """,
)
def q_daily_revenue_cusum_drift(spark, t):
    """CUSUM change-point detection on the daily revenue series: the
    running sum of deviations from the global daily mean peaks (in
    absolute value) exactly where the level shifts — the classic
    offline change-point locator (Page's CUSUM), answering "did
    revenue change regime, and on which day" where the z-score
    anomaly screen (``event_volume_anomalies``) only flags single
    outlier days.

    Scale shape: the fact collapses to day grain with map-side
    combine first; the mean is one scalar aggregate broadcast back;
    the globally-ordered cumulative goes through
    ``running_sum_ranged`` (bucket exchange + partitioned window —
    never a single-task window even though the day series is
    calendar-bounded); the argmax is a heap top-1. All arithmetic is
    exact BIGINT: the mean uses truncating integer division and the
    CUSUM is a sum of integer deviations, so both engines walk the
    identical series."""
    # two consumers (scalar mean, deviation frame) — pin so the fact
    # scan + day rollup run once
    daily = pin(
        t["orders"]
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_e2")
        )
    )
    m = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("rev_e2").cast("long").alias("tot"),
        F.expr("sum(rev_e2) DIV count(*)").alias("mean_e2"),
    )
    dev = daily.crossJoin(F.broadcast(m)).select(
        "d",
        "n_days",
        "mean_e2",
        (F.col("rev_e2") - F.col("mean_e2")).alias("dev_e2"),
    )
    c = running_sum_ranged(dev, [("d", True)], "dev_e2", "cusum_e2")
    return (
        c.select(
            "n_days",
            "mean_e2",
            F.substring(F.col("d").cast("string"), 1, 10).alias(
                "change_date"
            ),
            F.col("cusum_e2").cast("long").alias("cusum_e2"),
            F.abs("cusum_e2").cast("long").alias("abs_cusum_e2"),
        )
        .orderBy(F.desc("abs_cusum_e2"), "change_date")
        .limit(1)
    )


# One PSI term from exact integer counts: (p2 - p1) * ln(p2/p1) with
# the shares expanded so both engines evaluate ONE double expression
# in the same order.
_PSI_TERM = (
    "CAST(ROUND((CAST(c2 AS DOUBLE) / n2 - CAST(c1 AS DOUBLE) / n1)"
    " * LN((CAST(c2 AS DOUBLE) * n1) / (CAST(c1 AS DOUBLE) * n2))"
    " * 1000000) AS BIGINT)"
)


@query(
    "event_type_psi_drift",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
        FROM events
    ),
    halves AS (
        SELECT e.event_type,
               CASE WHEN CAST(e.ts AS DATE)
                        < b.d0 + CAST(FLOOR(CAST(b.d1 - b.d0 AS BIGINT) / 2.0) AS INTEGER)
                    THEN 'h1' ELSE 'h2' END AS half
        FROM events e, bounds b
    ),
    cnt AS (
        SELECT event_type,
               COUNT(*) FILTER (WHERE half = 'h1') AS c1,
               COUNT(*) FILTER (WHERE half = 'h2') AS c2
        FROM halves GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
        FROM cnt
    )
    SELECT c.event_type,
           CAST(c.c1 AS BIGINT) AS n_h1,
           CAST(c.c2 AS BIGINT) AS n_h2,
           CAST(FLOOR(CAST(c.c1 AS DOUBLE) * 10000 / t.n1) AS BIGINT)
               AS share_h1_bp,
           CAST(FLOOR(CAST(c.c2 AS DOUBLE) * 10000 / t.n2) AS BIGINT)
               AS share_h2_bp,
           {_PSI_TERM.replace("c1", "c.c1").replace("c2", "c.c2")
                     .replace("n1", "t.n1").replace("n2", "t.n2")}
               AS psi_term_e6
    FROM cnt c, tot t
    WHERE c.c1 > 0 AND c.c2 > 0
    ORDER BY c.event_type
    """,
)
def q_event_type_psi_drift(spark, t):
    """Population Stability Index of the event-type mix between the
    first and second half of the event history — the standard "has my
    input distribution shifted" monitor (PSI < 0.1 stable, > 0.25
    action), per-category terms reported so the drifting category is
    visible, not just the total. The time-axis companion to the
    segment-independence chi-square.

    Scale shape: one map-side half tag (the midpoint is two bounded
    scalar aggregates), one (event_type)-keyed count with map-side
    FILTER combine, and a broadcast of the 1-row totals; each PSI
    term is ONE fixed-order double from exact integer counts,
    e6-rounded. Categories absent from either half are excluded
    (their PSI is undefined; the row counts make the exclusion
    visible)."""
    b = t["events"].agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    ).collect()[0]
    mid_offset = (b["d1"] - b["d0"]).days // 2
    half = F.when(
        F.to_date("ts") < F.date_add(F.lit(b["d0"]), mid_offset), "h1"
    ).otherwise("h2")
    # two consumers (the totals scalar, the term projection) — pin so
    # the event scan + keyed count run once
    cnt = pin(
        t["events"]
        .select("event_type", half.alias("half"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("half") == "h1", 1).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("half") == "h2", 1).otherwise(0))
            .cast("long")
            .alias("c2"),
        )
    )
    tot = cnt.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .filter((F.col("c1") > 0) & (F.col("c2") > 0))
        .select(
            "event_type",
            F.col("c1").alias("n_h1"),
            F.col("c2").alias("n_h2"),
            F.expr(
                "CAST(FLOOR(CAST(c1 AS DOUBLE) * 10000 / n1) AS BIGINT)"
            ).alias("share_h1_bp"),
            F.expr(
                "CAST(FLOOR(CAST(c2 AS DOUBLE) * 10000 / n2) AS BIGINT)"
            ).alias("share_h2_bp"),
            F.expr(_PSI_TERM).alias("psi_term_e6"),
        )
        .orderBy("event_type")
    )


STL_HALF = 14  # centered moving-average half-width (29-day trend)


@query(
    "daily_revenue_stl_decomposition",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_e2
        FROM orders GROUP BY 1
    ),
    tr AS (
        SELECT d, rev_e2,
               CAST(FLOOR(SUM(rev_e2) OVER w * 1.0
                    / COUNT(*) OVER w) AS BIGINT) AS trend_e2
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN {STL_HALF} PRECEDING
                     AND {STL_HALF} FOLLOWING)
    ),
    det AS (
        SELECT month(d) AS month, rev_e2 - trend_e2 AS det_e2 FROM tr
    ),
    seas AS (
        SELECT month,
               CAST(FLOOR(SUM(det_e2) * 1.0 / COUNT(*)) AS BIGINT)
                   AS seasonal_e2,
               COUNT(*) AS n_days
        FROM det GROUP BY month
    ),
    resid AS (
        SELECT det.month,
               CAST(FLOOR((det.det_e2 - seas.seasonal_e2) * 1.0 / 100)
                    AS BIGINT) AS r_d
        FROM det JOIN seas ON seas.month = det.month
    )
    SELECT r.month,
           CAST(s.n_days AS BIGINT) AS n_days,
           s.seasonal_e2,
           CAST(FLOOR((COUNT(*) * SUM(r.r_d * r.r_d)
                       - SUM(r.r_d) * SUM(r.r_d)) * 1.0
                / (COUNT(*) * COUNT(*))) AS BIGINT) AS resid_var_d2
    FROM resid r JOIN seas s ON s.month = r.month
    GROUP BY r.month, s.n_days, s.seasonal_e2
    ORDER BY r.month
    """,
)
def q_daily_revenue_stl_decomposition(spark, t):
    """STL-lite seasonal decomposition of daily revenue: a centered
    29-day moving average is the trend, per-calendar-month means of
    the detrended series are the seasonal factors, and the residual
    variance per month is the noise floor — together the additive
    decomposition (trend + seasonal + residual) a forecasting review
    starts from, one level deeper than the share-based
    ``monthly_seasonal_index``.

    Scale shape: the fact collapses to day grain first; the centered
    MA runs as an UNPARTITIONED but BOUNDED-frame window over the
    calendar-day series (same class as daily_revenue_gapfill_ma7 —
    day grain is calendar-bounded, on the documented allowlist); the
    seasonal/residual rollups are month-grain with exact-integer
    moment sums (residuals first floored to dollar grain so the
    squared sums stay far inside BIGINT). Every division is one
    fixed-order FLOOR both engines evaluate identically."""
    from pyspark.sql import Window

    daily = (
        t["orders"]
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_e2")
        )
    )
    w = Window.orderBy("d").rowsBetween(-STL_HALF, STL_HALF)
    tr = daily.select(
        "d",
        "rev_e2",
        F.floor(F.sum("rev_e2").over(w) * 1.0 / F.count(F.lit(1)).over(w))
        .cast("long")
        .alias("trend_e2"),
    )
    # two consumers (seasonal means, residual join) — pin so the
    # windowed trend pass runs once
    det = pin(
        tr.select(
            F.month("d").alias("month"),
            (F.col("rev_e2") - F.col("trend_e2")).alias("det_e2"),
        )
    )
    seas = det.groupBy("month").agg(
        F.floor(F.sum("det_e2") * 1.0 / F.count(F.lit(1)))
        .cast("long")
        .alias("seasonal_e2"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    resid = det.join(F.broadcast(seas), "month").select(
        "month",
        "n_days",
        "seasonal_e2",
        F.floor((F.col("det_e2") - F.col("seasonal_e2")) * 1.0 / 100)
        .cast("long")
        .alias("r_d"),
    )
    return (
        resid.groupBy("month", "n_days", "seasonal_e2")
        .agg(
            F.floor(
                (
                    F.count(F.lit(1)) * F.sum(F.col("r_d") * F.col("r_d"))
                    - F.sum("r_d") * F.sum("r_d")
                )
                * 1.0
                / (F.count(F.lit(1)) * F.count(F.lit(1)))
            )
            .cast("long")
            .alias("resid_var_d2")
        )
        .select("month", "n_days", "seasonal_e2", "resid_var_d2")
        .orderBy("month")
    )
