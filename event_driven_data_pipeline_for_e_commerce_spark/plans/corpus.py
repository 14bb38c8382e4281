"""The public query corpus: every operator from SURVEY.md §2 as a named
query over the driver testdata, paired with an ANSI-SQL oracle DuckDB
can run on the same parquet.

Contract (``__spark_entry__.py``): ``QUERIES[name](spark, sf_dir)``
returns a DataFrame; ORACLES[name] is the equivalent SQL. Column
names/aliases MUST match between the two — the driver sorts columns by
name before value-hashing. Builders registered with ``@query`` take
``(spark, t)``: the registered callable opens the table catalog
(``tables.load_tables``) once and passes it as ``t``; a builder that
needs another query's frame calls ``QUERIES[other](spark, t.sf_dir)``.

Determinism rules applied throughout:
- every top-k / limit has a total-order tie-break on a unique key
- money/ratio outputs are rounded identically on both sides
- no wall-clock, no unseeded randomness
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.datetimes import date_sk, day_diff_trunc, fractional_days, month_bucket
from ..functions.strings import row_hash, truncate_ellipsis
from ..operators.aggregates import argmax, frequency_count, funnel, mode
from ..operators.dedup import dedup_keyed_ordered
from ..operators.pinning import pin
from ..operators.joins import cross_join, date_key_join, enrich, salted_join
from ..operators.surrogate_keys import with_surrogate_key_dense
from ..sources.io import union_by_name
from .tables import load_tables

FUNNEL_STAGES = ["view", "click", "signup", "purchase"]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register the builder ``fn(spark, t)`` as ``QUERIES[name]``, a
    ``(spark, sf_dir)`` callable, and its oracle."""

    def deco(fn):
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            # looked up per call, not bound here, so a wrapped
            # ``load_tables`` (perfbench's tracer) sees every query
            return fn(spark, load_tables(spark, sf_dir))

        QUERIES[name] = build
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# Flagship: lifecycle/conversion funnel (SURVEY §7.1; ST2/G12,
# reference app.py:237-242, README.md:83 gold_funnel_metrics)
# --------------------------------------------------------------------------

@query(
    "funnel",
    oracle="""
    WITH counts AS (
        SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
    ),
    stages(stage_order, event_type) AS (
        VALUES (1, 'view'), (2, 'click'), (3, 'signup'), (4, 'purchase')
    )
    SELECT
        s.stage_order,
        s.event_type,
        COALESCE(c.cnt, 0) AS cnt,
        ROUND(
            COALESCE(c.cnt, 0) * 100.0
            / FIRST_VALUE(COALESCE(c.cnt, 0)) OVER (ORDER BY s.stage_order),
            4
        ) AS conversion_pct
    FROM stages s LEFT JOIN counts c USING (event_type)
    ORDER BY s.stage_order
    """,
)
def q_funnel(spark: SparkSession, t: Mapping[str, DataFrame]) -> DataFrame:
    return funnel(t["events"], FUNNEL_STAGES)


# --------------------------------------------------------------------------
# §2.B Projections / filters / dedup
# --------------------------------------------------------------------------

@query(
    "filter_status_revenue",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS order_cnt,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_filter_status_revenue(spark, t):
    """B3 equality filter + G3 group-by sum (app.py:180,253,281)."""
    return (
        t["orders"]
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "late_shipments",
    oracle="""
    SELECT l.l_returnflag,
           count(*) AS late_cnt
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_returnflag
    """,
)
def q_late_shipments(spark, t):
    """B4 cross-column theta filter (late orders, app.py:195-197)."""
    joined = t["lineitem"].join(
        t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey
    )
    return (
        joined.filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("late_cnt"))
    )


@query(
    "dedup_full_rows",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def q_dedup_full_rows(spark, t):
    """B8 full-row dedup (ecom_Silver_Layer.ipynb:198-199) over a B1
    column-list projection (app.py:111,117)."""
    return t["events"].select("user_id", "event_type").dropDuplicates()


@query(
    "dedup_keyed_ordered",
    oracle="""
    SELECT user_id, event_id, event_type, ts AS first_ts
    FROM (
        SELECT user_id, event_id, event_type, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q_dedup_keyed_ordered(spark, t):
    """B10 ordered keyed dedup — deterministic first-event-per-user
    (the app.py:116 min-installments-per-order semantic); S1 multi-key
    sort (app.py:102) realized as the window order."""
    out = dedup_keyed_ordered(
        t["events"], ["user_id"], [F.col("ts"), F.col("event_id")]
    )
    return out.select(
        "user_id", "event_id", "event_type", F.col("ts").alias("first_ts")
    )


@query(
    "empty_relation",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'NOPE'
    """,
)
def q_empty_relation(spark, t):
    """B12 typed empty fallback (app.py:253,462 df.iloc[0:0])."""
    return t["orders"].select("o_orderkey", "o_orderstatus").filter(
        F.col("o_orderstatus") == "NOPE"
    )


@query(
    "defensive_default_column",
    oracle="""
    SELECT c_custkey, c_name, 'unknown' AS loyalty_tier
    FROM customer
    """,
)
def q_defensive_default_column(spark, t):
    """B11 defensive column default (app.py:42-45): add constant column
    when absent from the source schema — B2 computed projection with
    literals (ecom_Gold_Layer.ipynb:63-79)."""
    df = t["customer"].select("c_custkey", "c_name")
    if "loyalty_tier" not in df.columns:
        df = df.withColumn("loyalty_tier", F.lit("unknown"))
    return df


@query(
    "filter_header_rows",
    oracle="""
    SELECT source, count(*) AS doc_cnt
    FROM documents
    WHERE source != 'source' AND text NOT LIKE '%doc_id%'
    GROUP BY source
    """,
)
def q_filter_header_rows(spark, t):
    """B6 not-equal + NOT LIKE filter — the embedded-CSV-header-row
    skip (Scd_Type2.sql:36,124-126)."""
    return (
        t["documents"]
        .filter((F.col("source") != "source") & ~F.col("text").like("%doc_id%"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("doc_cnt"))
    )


@query(
    "masked_ship_kpis",
    oracle="""
    WITH j AS (
        SELECT o.o_orderstatus,
               CASE WHEN l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
                    THEN (epoch(l.l_shipdate) - epoch(o.o_orderdate)) / 86400.0
               END AS ship_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderstatus,
           ROUND(AVG(ship_days), 4) AS avg_ship_days,
           ROUND(100.0 * SUM(CASE WHEN ship_days > 60 THEN 1 ELSE 0 END) / count(*), 4)
               AS late_pct
    FROM j GROUP BY o_orderstatus
    """,
)
def q_masked_ship_kpis(spark, t):
    """F23 masked conditional assignment (app.py:135-140) + B5 null
    predicates + F6 fractional-day diff + F25 ratio KPIs
    (app.py:187-198): ship_days only where both dates present, late%
    over the group."""
    j = t["lineitem"].join(
        t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey
    )
    ship_days = F.when(
        F.col("l_shipdate").isNotNull() & F.col("o_orderdate").isNotNull(),
        fractional_days("l_shipdate", "o_orderdate"),
    ).otherwise(F.lit(None))
    return (
        j.withColumn("ship_days", ship_days)
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.avg("ship_days"), 4).alias("avg_ship_days"),
            F.round(
                100.0 * F.sum(F.when(F.col("ship_days") > 60, 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("late_pct"),
        )
    )


@query(
    "deterministic_segments",
    oracle="""
    WITH seg AS (
        SELECT c_custkey,
               CAST(list_sum(list_transform(generate_series(1, 8),
                   k -> (instr('0123456789abcdef',
                                substr(md5(CAST(c_custkey AS STRING)), k, 1)) - 1)
                        * 16 ** (8 - k))) AS BIGINT) AS h
        FROM customer
    )
    SELECT ['Premium', 'Gold', 'Silver'][CAST(h % 3 AS INT) + 1] AS segment,
           count(*) AS customers,
           ROUND(AVG(1000.0 + h % 4000), 2) AS avg_sales
    FROM seg GROUP BY segment
    """,
)
def q_deterministic_segments(spark, t):
    """F24 seeded random columns (app.py:321-324,488-490) realized as
    md5-keyed pseudo-randoms — deterministic across engines AND across
    partitionings (Spark's rand(seed) is partition-dependent, so a
    hash of the key is the reproducible form of the reference's seeded
    rng), + F16-style segment pick via element_at."""
    h = F.conv(
        F.md5(F.col("c_custkey").cast("string")).substr(1, 8), 16, 10
    ).cast("bigint")
    segment = F.element_at(
        F.array(F.lit("Premium"), F.lit("Gold"), F.lit("Silver")),
        (h % 3 + 1).cast("int"),
    )
    return (
        t["customer"]
        .select(segment.alias("segment"), (F.lit(1000.0) + h % 4000).alias("sales"))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.avg("sales"), 2).alias("avg_sales"),
        )
    )


@query(
    "render_timestamps",
    oracle="""
    SELECT o_orderkey,
           substr(CAST(o_orderdate AS STRING), 1, 16) AS rendered,
           CAST(o_orderdate AS DATE) AS purchase_date
    FROM orders
    """,
)
def q_render_timestamps(spark, t):
    """F10 FORMAT_TIMESTAMP render (Scd_Type2.sql:145) + F8 date
    extraction (ecom_Gold_Layer.ipynb:55,101-102)."""
    return t["orders"].select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm").alias("rendered"),
        F.to_date("o_orderdate").alias("purchase_date"),
    )


# --------------------------------------------------------------------------
# §2.C Joins
# --------------------------------------------------------------------------

@query(
    "orders_last_event",
    oracle="""
    WITH last_ev AS (
        SELECT user_id, event_type AS last_event_type, ts AS last_ts
        FROM (
            SELECT user_id, event_type, ts,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
            FROM events
        ) WHERE rn = 1
    )
    SELECT c.c_custkey, c.c_name, l.last_event_type, l.last_ts
    FROM customer c LEFT JOIN last_ev l ON c.c_custkey = l.user_id
    """,
)
def q_orders_last_event(spark, t):
    """J1 left join to per-key event agg + G1/W3 last-event-per-key
    (app.py:100-107) — UD1's lambda "last non-null" aggregate replaced
    by the native ordered-window row_number (no UDAF)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    last_ev = (
        t["events"]
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("ts").alias("last_ts"),
        )
    )
    return t["customer"].select("c_custkey", "c_name").join(
        last_ev, F.col("c_custkey") == F.col("user_id"), "left"
    ).drop("user_id")


@query(
    "revenue_by_region",
    oracle="""
    SELECT r.r_name, ROUND(SUM(o.o_totalprice), 2) AS revenue, count(*) AS order_cnt
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_revenue_by_region(spark, t):
    """J3 multi-way inner equi-join (ecom_Gold_Layer.ipynb:80-83) with
    broadcast dims (J5) — geography chain customer→nation→region."""
    geo = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "r_name")
    )
    return (
        t["orders"]
        .join(geo, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
    )


@query(
    "cross_join_matrix",
    oracle="""
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def q_cross_join_matrix(spark, t):
    """J4 deliberate cartesian product (ecom_Gold_Layer.ipynb:81-82)."""
    return cross_join(t["region"].select("r_name"), t["nation"].select("n_name"))


@query(
    "brand_performance",
    oracle="""
    SELECT p.p_brand,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS net_revenue,
           ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q_brand_performance(spark, t):
    """J5 broadcast dim enrich + F22 derived measure (product
    performance mart, README.md:83)."""
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"].select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("net_revenue"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@query(
    "date_sk_rollup",
    oracle="""
    SELECT CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100
                + day(o_orderdate) AS BIGINT) AS date_sk,
           count(*) AS order_cnt
    FROM orders GROUP BY 1
    """,
)
def q_date_sk_rollup(spark, t):
    """J6/F9 date→yyyymmdd surrogate key (ecom_Gold_Layer.ipynb:53-56)."""
    return (
        date_key_join(t["orders"], "o_orderdate")
        .groupBy("date_sk")
        .agg(F.count(F.lit(1)).alias("order_cnt"))
    )


@query(
    "dim_date_build",
    oracle="""
    WITH span AS (
        SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
               MAX(CAST(o_orderdate AS DATE)) AS hi
        FROM orders
    )
    SELECT CAST(d.g AS DATE) AS full_date,
           CAST(strftime(d.g, '%Y%m%d') AS BIGINT) AS date_sk
    FROM span, UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS d(g)
    """,
)
def q_dim_date_build(spark, t):
    """dim_date builder over the fact's observed date span — the
    generator missing from the reference snapshot (dim_date map used at
    ecom_Gold_Layer.ipynb:53-56; pipelines.medallion.build_dim_date).
    Pure plan: 1-row agg → sequence() explode, no collect."""
    span = t["orders"].agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    )
    return span.select(
        F.explode(F.sequence("lo", "hi")).alias("full_date")
    ).withColumn("date_sk", date_sk("full_date"))


@query(
    "salted_join_revenue",
    oracle="""
    SELECT l.l_returnflag,
           count(*) AS item_cnt,
           ROUND(SUM(l.l_extendedprice), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY l.l_returnflag
    """,
)
def q_salted_join_revenue(spark, t):
    """Skew-mitigating salted join (SURVEY.md §7.0 scale stance): salt
    fans each hot key over N reducers, small side replicated per salt.
    Salting is result-invariant, so the oracle is the PLAIN join."""
    joined = salted_join(
        t["lineitem"].withColumnRenamed("l_orderkey", "o_orderkey"),
        t["orders"].filter(F.col("o_orderstatus") == "O").select("o_orderkey"),
        on="o_orderkey", buckets=8, how="inner",
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("item_cnt"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


# --------------------------------------------------------------------------
# §2.D Aggregations
# --------------------------------------------------------------------------

@query(
    "rollup_revenue",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           count(*) AS order_cnt
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_rollup_revenue(spark, t):
    """Hierarchical ROLLUP subtotals (status → priority → grand total)
    — free via df.rollup; the reference computed each level as its own
    pandas groupby (SURVEY.md §2.D note)."""
    return (
        t["orders"]
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
    )


@query(
    "cube_counts",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS order_cnt
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_counts(spark, t):
    """CUBE over status × priority — every grouping-set combination in
    one pass (df.cube)."""
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_cnt"))
    )


@query(
    "monthly_revenue",
    oracle="""
    SELECT substr(CAST(o_orderdate AS STRING), 1, 7) AS month,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders GROUP BY 1
    """,
)
def q_monthly_revenue(spark, t):
    """G3/F4 revenue per month bucket (app.py:280-281)."""
    return (
        t["orders"]
        .groupBy(month_bucket("o_orderdate").alias("month"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@query(
    "monthly_revenue_by_status",
    oracle="""
    SELECT substr(CAST(o_orderdate AS STRING), 1, 7) AS month, o_orderstatus,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders GROUP BY 1, 2
    """,
)
def q_monthly_revenue_by_status(spark, t):
    """G4 multi-key group-by (app.py:347)."""
    return (
        t["orders"]
        .groupBy(month_bucket("o_orderdate").alias("month"), F.col("o_orderstatus"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@query(
    "avg_acctbal_by_segment",
    oracle="""
    SELECT c_mktsegment, ROUND(AVG(c_acctbal), 4) AS avg_acctbal
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_avg_acctbal_by_segment(spark, t):
    """G2 group-by mean (app.py:210-216,434-437)."""
    return (
        t["customer"]
        .groupBy("c_mktsegment")
        .agg(F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"))
    )


@query(
    "global_kpis",
    oracle="""
    SELECT count(*) AS total_orders,
           ROUND(SUM(o_totalprice), 2) AS total_revenue,
           ROUND(AVG(o_totalprice), 4) AS avg_order_value,
           COUNT(DISTINCT o_custkey) AS distinct_customers
    FROM orders
    """,
)
def q_global_kpis(spark, t):
    """G6 count-distinct + G7 global scalar aggs (app.py:179-183,255,502-507)."""
    return t["orders"].agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_order_value"),
        F.countDistinct("o_custkey").alias("distinct_customers"),
    )


@query(
    "top_customer_by_revenue",
    oracle="""
    SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY o_custkey
    ORDER BY SUM(o_totalprice) DESC, o_custkey LIMIT 1
    """,
)
def q_top_customer_by_revenue(spark, t):
    """G8 argmax over groups (app.py:511-528).

    Note the tie-break/rounding subtlety: ordering uses the UNROUNDED
    sum on both sides so engine-side rounding can't flip the winner.
    """
    return (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("__raw"))
        .orderBy(F.desc("__raw"), F.asc("o_custkey"))
        .limit(1)
        .select("o_custkey", F.round("__raw", 2).alias("total"))
    )


@query(
    "mode_event_type",
    oracle="""
    SELECT event_type, count(*) AS cnt FROM events
    GROUP BY event_type ORDER BY cnt DESC, event_type LIMIT 1
    """,
)
def q_mode_event_type(spark, t):
    """G9 mode with deterministic tie-break (app.py:374) + S6 head-row
    pick (the limit-1 form of app.py:371)."""
    return mode(t["events"], "event_type")


@query(
    "median_acctbal_by_nation",
    oracle="""
    SELECT c_nationkey, ROUND(MEDIAN(c_acctbal), 4) AS median_acctbal
    FROM customer GROUP BY c_nationkey
    """,
)
def q_median_acctbal_by_nation(spark, t):
    """G10 exact median (the Silver imputation statistic,
    ecom_Silver_Layer.ipynb:214-215) — Spark `median` is exact, matching
    DuckDB; percentile_approx would NOT hash-match."""
    return (
        t["customer"]
        .groupBy("c_nationkey")
        .agg(F.round(F.median("c_acctbal"), 4).alias("median_acctbal"))
    )


@query(
    "conditional_counts",
    oracle="""
    SELECT count(*) AS total_events,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase_cnt,
           count(*) FILTER (WHERE value > 100) AS high_value_cnt,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purchase_value
    FROM events
    """,
)
def q_conditional_counts(spark, t):
    """G11 conditional count / count_if (app.py:188,197-198)."""
    return t["events"].agg(
        F.count(F.lit(1)).alias("total_events"),
        F.count_if(F.col("event_type") == "purchase").alias("purchase_cnt"),
        F.count_if(F.col("value") > 100).alias("high_value_cnt"),
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)), 2
        ).alias("purchase_value"),
    )


@query(
    "status_value_counts",
    oracle="""
    SELECT o_orderstatus, count(*) AS cnt FROM orders
    GROUP BY o_orderstatus ORDER BY cnt DESC, o_orderstatus
    """,
)
def q_status_value_counts(spark, t):
    """G5 frequency count / value_counts (app.py:188,230-240)."""
    return frequency_count(t["orders"], "o_orderstatus")


# --------------------------------------------------------------------------
# §2.E Windows / surrogate keys, §2.F sorts & top-k
# --------------------------------------------------------------------------

@query(
    "surrogate_keys_dense",
    oracle="""
    SELECT n_nationkey, n_name,
           ROW_NUMBER() OVER (ORDER BY n_nationkey) + 100 AS nation_sk
    FROM nation
    """,
)
def q_surrogate_keys_dense(spark, t):
    """W1 row_number + offset surrogate keys (Scd_Type2.sql:33-34)."""
    return with_surrogate_key_dense(
        t["nation"].select("n_nationkey", "n_name"), "n_nationkey", "nation_sk", 100
    )


@query(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk_orders(spark, t):
    """S3 top-k largest — plans TakeOrderedAndProject, not a full sort
    (app.py:400,563); S2 single-key sort semantics underneath."""
    return (
        t["orders"]
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


@query(
    "bottomk_customers",
    oracle="""
    SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
    FROM customer ORDER BY c_acctbal ASC, c_custkey LIMIT 10
    """,
)
def q_bottomk_customers(spark, t):
    """S4 top-k smallest (app.py:412)."""
    return (
        t["customer"]
        .orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
        .limit(10)
        .select("c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
    )


@query(
    "limit_preview",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey LIMIT 5
    """,
)
def q_limit_preview(spark, t):
    """S5 deterministic limit (ecom_Gold_Layer.ipynb:170)."""
    return (
        t["orders"].select("o_orderkey", "o_orderstatus").orderBy("o_orderkey").limit(5)
    )


# --------------------------------------------------------------------------
# §2.G Set ops, §2.H scalar functions
# --------------------------------------------------------------------------

@query(
    "union_entities",
    oracle="""
    SELECT c_custkey AS entity_id, c_name AS entity_name,
           c_mktsegment AS segment, 'customer' AS entity_kind
    FROM customer
    UNION ALL
    SELECT s_suppkey AS entity_id, s_name AS entity_name,
           CAST(NULL AS STRING) AS segment, 'supplier' AS entity_kind
    FROM supplier
    """,
)
def q_union_entities(spark, t):
    """U1 union-by-name with NULL alignment for missing columns
    (pd.concat parity, ecom_Bronze_Layer.ipynb:44)."""
    cust = t["customer"].select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("entity_name"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("customer").alias("entity_kind"),
    )
    supp = t["supplier"].select(
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_name").alias("entity_name"),
        F.lit("supplier").alias("entity_kind"),
    )
    return union_by_name([cust, supp])


@query(
    "ship_delay_days",
    oracle="""
    SELECT l.l_returnflag,
           ROUND(AVG(FLOOR((FLOOR(epoch(l.l_shipdate)) - FLOOR(epoch(o.o_orderdate))) / 86400)), 4)
               AS avg_delay_days,
           ROUND(AVG((FLOOR(epoch(l.l_shipdate)) - FLOOR(epoch(o.o_orderdate))) / 86400.0), 4)
               AS avg_delay_frac
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_returnflag
    """,
)
def q_ship_delay_days(spark, t):
    """F5/F6 pandas-parity day diffs: whole-day truncation AND
    fractional days (ecom_Silver_Layer.ipynb:271; app.py:137-140)."""
    joined = t["lineitem"].join(
        t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy("l_returnflag").agg(
        F.round(F.avg(day_diff_trunc("l_shipdate", "o_orderdate")), 4).alias("avg_delay_days"),
        F.round(F.avg(fractional_days("l_shipdate", "o_orderdate")), 4).alias("avg_delay_frac"),
    )


@query(
    "row_hash_customers",
    oracle="""
    SELECT c_custkey,
           md5(concat(
               COALESCE(CAST(c_name AS STRING), ''),
               COALESCE(CAST(c_nationkey AS STRING), ''),
               COALESCE(CAST(c_mktsegment AS STRING), '')
           )) AS row_hash
    FROM customer
    """,
)
def q_row_hash_customers(spark, t):
    """F12/F13 md5 change-detection row hash (Scd_Type2.sql:25-32)."""
    return t["customer"].select(
        "c_custkey",
        row_hash(["c_name", "c_nationkey", "c_mktsegment"]).alias("row_hash"),
    )


@query(
    "tolerant_extract_cast",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS k_total,
           count(*) FILTER (WHERE TRY_CAST(props AS DOUBLE) IS NULL) AS unparseable_cnt
    FROM events GROUP BY event_type
    """,
)
def q_tolerant_extract_cast(spark, t):
    """F18 tolerant numeric cast (NULL on junk, app.py:94,123) + F14/F15
    regex extraction."""
    return t["events"].groupBy("event_type").agg(
        F.sum(F.regexp_extract("props", r"([0-9]+)", 1).cast("long")).alias("k_total"),
        F.count_if(F.col("props").cast("double").isNull()).alias("unparseable_cnt"),
    )


@query(
    "null_fill_policy",
    oracle="""
    SELECT event_type,
           ROUND(SUM(COALESCE(CASE WHEN event_type = 'error' THEN NULL ELSE value END, 0.0)), 2)
               AS value_filled_total
    FROM events GROUP BY event_type
    """,
)
def q_null_fill_policy(spark, t):
    """F19 constant null-fill (ecom_Silver_Layer.ipynb:211,233): mask a
    column to NULL then fill with the policy default."""
    masked = t["events"].withColumn(
        "value_masked",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value")),
    )
    filled = masked.na.fill({"value_masked": 0.0})
    return filled.groupBy("event_type").agg(
        F.round(F.sum("value_masked"), 2).alias("value_filled_total")
    )


@query(
    "display_truncate",
    oracle="""
    SELECT p_partkey, concat(substring(p_name, 1, 10), '...') AS short_name
    FROM part
    """,
)
def q_display_truncate(spark, t):
    """F16 truncate+ellipsis display projection (app.py:536)."""
    return t["part"].select(
        "p_partkey", truncate_ellipsis("p_name", 10).alias("short_name")
    )


@query(
    "sk_continuation",
    oracle="""
    SELECT s_suppkey,
           ROW_NUMBER() OVER (ORDER BY s_suppkey)
               + (SELECT MAX(c_custkey) FROM customer) AS supplier_sk
    FROM supplier
    """,
)
def q_sk_continuation(spark, t):
    """W1 scalar-subquery SK offset (Scd_Type2.sql:33-34): new keys
    continue from the current max of another table."""
    from ..operators.surrogate_keys import max_key, with_surrogate_key_dense

    offset = max_key(t["customer"], "c_custkey")
    return with_surrogate_key_dense(
        t["supplier"].select("s_suppkey"), "s_suppkey", "supplier_sk", offset
    )


# --------------------------------------------------------------------------
# §2.I streaming semantics, batch-replay form (ST1-ST6)
# --------------------------------------------------------------------------

@query(
    "tumbling_daily_revenue",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           ROUND(SUM(value), 2) AS revenue,
           count(*) AS event_cnt
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q_tumbling_daily_revenue(spark, t):
    """ST2 tumbling event-time window (batch replay) — the streaming
    variant is streaming.streams.windowed_revenue with a watermark."""
    return (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.round(F.sum("value"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("event_cnt"),
        )
        .select(F.col("w.start").alias("window_start"), "revenue", "event_cnt")
    )


@query(
    "event_id_dedup",
    oracle="""
    SELECT count(*) AS unique_events FROM (
        SELECT DISTINCT event_id FROM (
            SELECT event_id FROM events UNION ALL SELECT event_id FROM events
        )
    )
    """,
)
def q_event_id_dedup(spark, t):
    """ST5 dedup on event identity under at-least-once replay: the
    stream delivered every event twice; dedup restores exactly-once."""
    replayed = t["events"].unionAll(t["events"])
    return replayed.dropDuplicates(["event_id"]).agg(
        F.count(F.lit(1)).alias("unique_events")
    )


@query(
    "sliding_weekly_revenue",
    oracle="""
    SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP)
               - g.k * INTERVAL 1 DAY AS window_start,
           ROUND(SUM(e.value), 2) AS revenue,
           count(*) AS event_cnt
    FROM events e CROSS JOIN range(0, 7) AS g(k)
    WHERE e.event_type = 'purchase'
    GROUP BY 1
    """,
)
def q_sliding_weekly_revenue(spark, t):
    """ST2 extended to an overlapping (sliding) event-time window:
    7-day revenue recomputed every day. Spark assigns each row to its
    window_size/slide = 7 windows map-side — no self-join; the oracle
    materializes the same assignment with generate_series. Epoch
    alignment: slide = 1 day in a UTC session puts window starts on
    date boundaries, matching date_trunc."""
    return (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.window("ts", "7 days", "1 day").alias("w"))
        .agg(
            F.round(F.sum("value"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("event_cnt"),
        )
        .select(F.col("w.start").alias("window_start"), "revenue", "event_cnt")
    )


@query(
    "asof_last_click",
    oracle="""
    SELECT p.event_id, p.user_id,
           p.ts AS purchase_ts,
           p.value AS purchase_value,
           (SELECT max(c.ts) FROM events c
             WHERE c.user_id = p.user_id AND c.event_type = 'click'
               AND c.ts < p.ts) AS click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def q_asof_last_click(spark, t):
    """Backward as-of join (no reference equivalent — the custom
    temporal operator SURVEY §2.C notes is absent): each purchase
    picks the latest strictly-earlier click by the same user.
    operators/temporal.asof_join sweeps a union-tagged window — one
    key shuffle, no per-key cartesian; the oracle states the same
    semantics as a correlated MAX."""
    from ..operators.temporal import asof_join

    e = t["events"]
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        payload=["ts"],
        payload_prefix="click_",
    )


@query(
    "view_click_pairs_2h",
    oracle="""
    SELECT a.user_id,
           a.event_id AS view_id,
           b.event_id AS click_id,
           date_diff('microsecond', a.ts, b.ts) AS gap_us
    FROM events a JOIN events b ON a.user_id = b.user_id
    WHERE a.event_type = 'view' AND b.event_type = 'click'
      AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR
    """,
)
def q_view_click_pairs_2h(spark, t):
    """Range (band) join — pairs every view with the same user's
    clicks in the following 2 hours. operators/temporal.range_join
    turns the theta predicate into an equi-join on (user_id, 2h time
    bucket) + residual filter: each view probes ≤2 buckets, so the
    plan is a shuffleable hash join, never a per-key cartesian."""
    from ..operators.temporal import range_join

    e = t["events"]
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    return (
        range_join(
            views,
            clicks,
            on="user_id",
            left_ts="view_ts",
            right_ts="click_ts",
            lower_seconds=0,
            upper_seconds=7200,
        )
        .filter(F.col("click_ts") > F.col("view_ts"))
        .select(
            "user_id",
            "view_id",
            "click_id",
            (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("gap_us"),
        )
    )


@query(
    "props_json_stats",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
           COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_cnt
    FROM events GROUP BY event_type
    """,
)
def q_props_json_stats(spark, t):
    """Semi-structured extraction: the events table's ``props`` column
    is a JSON string (the Kafka-payload shape the reference's
    README.md:27 positions the stream as). ``get_json_object`` is a
    native Catalyst expression — the path extraction runs codegen-side,
    no UDF; aggregates stay integer-exact for hash parity."""
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        t["events"]
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
            F.count("k").alias("k_cnt"),
        )
    )


@query(
    "approx_distinct_contract",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS acd_ok,
           TRUE AS p50_ok
    FROM events GROUP BY event_type
    """,
)
def q_approx_distinct_contract(spark, t):
    """Sketch aggregates with a testable contract. Approximate results
    can't hash-match an exact oracle, so the query emits the CONTRACT
    instead: |approx − exact| within tolerance, per group, as a
    boolean the oracle asserts TRUE. approx_count_distinct (HLL++,
    rsd=5%) and percentile_approx (KLL-style) are THE scale path —
    mergeable partial sketches, one narrow shuffle, bounded memory —
    where exact distinct/median shuffle every value; the exact twins
    here exist only to score the sketch."""
    agg = t["events"].groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("acd"),
        F.countDistinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5).alias("p50_approx"),
        F.expr("percentile(value, 0.5)").alias("p50_exact"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    tol = (F.col("vmax") - F.col("vmin")) * 0.05
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("acd") - F.col("exact_users"))
            <= F.col("exact_users") * 0.05
        ).alias("acd_ok"),
        (F.abs(F.col("p50_approx") - F.col("p50_exact")) <= tol).alias("p50_ok"),
    )


@query(
    "purchase_attribution",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type, value,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS epoch
        FROM events
    ),
    counts AS (
        SELECT user_id, epoch,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views_before,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks_before
        FROM tagged GROUP BY user_id, epoch
    )
    SELECT t.user_id,
           t.ts AS purchase_ts,
           t.value AS purchase_value,
           c.views_before,
           c.clicks_before
    FROM tagged t JOIN counts c USING (user_id, epoch)
    WHERE t.event_type = 'purchase'
    """,
)
def q_purchase_attribution(spark, t):
    """ST3 generalized: per-user state machine (views/clicks since the
    previous purchase, emitted on purchase) in its native batch-replay
    form — gaps-and-islands, zero Python. The cross-batch streaming
    twin is streaming.stateful.purchase_attribution_stream
    (applyInPandasWithState); a pytest proves stream/batch parity."""
    from ..streaming.stateful import purchase_attribution_batch

    return purchase_attribution_batch(t["events"])


# --------------------------------------------------------------------------
# §2.C J7 — SCD Type-2 MERGE (the Scd_Type2.sql algorithm, hash-checked)
# --------------------------------------------------------------------------

@query(
    "scd2_merge_orders",
    oracle="""
    WITH base AS (
        SELECT o_orderkey AS order_id, o_orderstatus AS status,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING) AS total_str
        FROM orders
    ),
    tgt AS (
        SELECT order_id, status, total_str,
               md5(concat(COALESCE(status,''), COALESCE(total_str,''))) AS row_hash,
               ROW_NUMBER() OVER (ORDER BY order_id) AS order_sk,
               TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
               TIMESTAMP '9999-12-31 23:59:59' AS valid_to,
               TRUE AS is_current
        FROM base
    ),
    staging AS (
        SELECT order_id,
               CASE WHEN order_id % 3 = 0 THEN 'X' ELSE status END AS status,
               CASE WHEN order_id % 5 = 0 THEN CAST(CAST(order_id AS DECIMAL(18,2)) AS STRING)
                    ELSE total_str END AS total_str
        FROM base
        UNION ALL
        SELECT order_id + 1000000, 'NEW',
               CAST(CAST(1 AS DECIMAL(18,2)) AS STRING)
        FROM base WHERE order_id % 100 = 0
    ),
    st AS (
        SELECT order_id, status, total_str,
               md5(concat(COALESCE(status,''), COALESCE(total_str,''))) AS row_hash
        FROM staging
    ),
    j AS (
        SELECT t.order_id AS t_key, t.status AS t_status, t.total_str AS t_total,
               t.row_hash AS t_hash, t.order_sk, t.valid_from, t.valid_to, t.is_current,
               s.order_id AS s_key, s.status AS s_status, s.total_str AS s_total,
               s.row_hash AS s_hash
        FROM tgt t FULL OUTER JOIN st s ON t.order_id = s.order_id
    ),
    unchanged AS (
        SELECT t_key AS order_id, t_status AS status, t_total AS total_str,
               t_hash AS row_hash, order_sk, valid_from, valid_to, is_current
        FROM j WHERE s_key IS NULL OR t_hash = s_hash
    ),
    expired AS (
        SELECT t_key, t_status, t_total, t_hash, order_sk, valid_from,
               TIMESTAMP '2024-02-01 00:00:00', FALSE
        FROM j WHERE s_key IS NOT NULL AND t_key IS NOT NULL AND t_hash <> s_hash
    ),
    inserts AS (
        SELECT s_key, s_status, s_total, s_hash,
               ROW_NUMBER() OVER (ORDER BY s_key) + (SELECT MAX(order_sk) FROM tgt),
               TIMESTAMP '2024-02-01 00:00:00',
               TIMESTAMP '9999-12-31 23:59:59', TRUE
        FROM j WHERE s_key IS NOT NULL AND (t_key IS NULL OR t_hash <> s_hash)
    )
    SELECT order_id, status, total_str, row_hash, order_sk,
           CAST(valid_from AS STRING) AS valid_from,
           CAST(valid_to AS STRING) AS valid_to,
           is_current
    FROM (SELECT * FROM unchanged
          UNION ALL SELECT * FROM expired
          UNION ALL SELECT * FROM inserts)
    """,
)
def q_scd2_merge_orders(spark, t):
    """J7 SCD2 MERGE (Scd_Type2.sql:13-53) on a deterministic scenario:
    initial load at T0 from orders, then a staging batch that mutates
    status (key%3), total (key%5) and adds brand-new keys (key%100).

    Tracked values are hashed via the decimal-string form so the md5 is
    byte-identical between Spark and the oracle (double→string
    formatting is engine-specific; decimal(18,2)→string is not).
    """
    from ..operators.scd2 import scd2_init, scd2_merge

    base = t["orders"].select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("total_str"),
    )
    tracked = ["status", "total_str"]
    # persisted: a real SCD2 target is a materialized table; the merge
    # reads it three ways (current slice, history, max-SK scalar) and
    # recomputing the init lineage per branch would triple the cost
    target = pin(scd2_init(
        base, "order_id", tracked, F.lit("2024-01-01 00:00:00"), sk_col="order_sk"
    ))

    mutated = base.select(
        "order_id",
        F.when(F.col("order_id") % 3 == 0, F.lit("X")).otherwise(F.col("status")).alias("status"),
        F.when(
            F.col("order_id") % 5 == 0,
            F.col("order_id").cast("decimal(18,2)").cast("string"),
        ).otherwise(F.col("total_str")).alias("total_str"),
    )
    new_keys = base.filter(F.col("order_id") % 100 == 0).select(
        (F.col("order_id") + 1000000).alias("order_id"),
        F.lit("NEW").alias("status"),
        F.lit(1).cast("decimal(18,2)").cast("string").alias("total_str"),
    )
    staging = mutated.unionByName(new_keys)

    merged = scd2_merge(
        target, staging, "order_id", tracked, F.lit("2024-02-01 00:00:00"), sk_col="order_sk"
    )
    # valid_from/valid_to are rendered as strings: the storage-layer
    # open-end sentinel (9999-12-31 23:59:59) overflows pandas
    # datetime64[ns] (max 2262) in any Arrow/pandas consumer, so the
    # oracle-checked projection never materializes it as a timestamp.
    return merged.select(
        "order_id", "status", "total_str", "row_hash", "order_sk",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


# --------------------------------------------------------------------------
# Relational breadth beyond the reference (SURVEY §2.C/§2.G notes the
# reference has no semi/anti joins and no intersect/except; §2.D notes
# no grouping-sets family — all are table-stakes for a query engine a
# reference user would switch to, so the engine exposes and checks them)
# --------------------------------------------------------------------------


@query(
    "customers_with_orders_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_customers_with_orders_semi(spark, t):
    """Left-semi join (EXISTS): probe side streams, build side holds
    only the key set — no payload duplication, broadcastable by AQE."""
    return t["customer"].join(
        t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "customers_without_orders_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_customers_without_orders_anti(spark, t):
    """Left-anti join (NOT EXISTS) — the standalone form of the SCD2
    MERGE's not-matched branch (operators/joins.anti_join)."""
    from ..operators.joins import anti_join

    return anti_join(
        t["customer"],
        t["orders"].select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
    ).select("c_custkey", "c_name")


@query(
    "nations_both_sides_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def q_nations_both_sides_intersect(spark, t):
    return t["customer"].select(F.col("c_nationkey").alias("nationkey")).intersect(
        t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    )


@query(
    "nations_customers_only_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def q_nations_customers_only_except(spark, t):
    # subtract = EXCEPT DISTINCT (set semantics, matching SQL EXCEPT);
    # exceptAll would be multiset difference and keep keys whose
    # customer multiplicity merely exceeds their supplier multiplicity
    return t["customer"].select(F.col("c_nationkey").alias("nationkey")).subtract(
        t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    )


@query(
    "priority_status_pivot",
    oracle="""
    SELECT o_orderpriority,
           ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
           ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
           ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_priority_status_pivot(spark, t):
    """Pivot with an EXPLICIT value list — without it Spark runs an
    extra distinct-collect job to discover columns; pinning the values
    keeps the plan a single pass at any scale."""
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )


@query(
    "status_measures_unpivot",
    oracle="""
    WITH a AS (
        SELECT o_orderstatus,
               ROUND(SUM(o_totalprice), 2) AS tp,
               ROUND(AVG(o_totalprice), 2) AS ap
        FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, 'total_price' AS measure, tp AS val FROM a
    UNION ALL
    SELECT o_orderstatus, 'avg_price' AS measure, ap AS val FROM a
    """,
)
def q_status_measures_unpivot(spark, t):
    """Unpivot/melt (wide→long) — map-side row expansion, no shuffle
    beyond the feeding aggregation."""
    agg = t["orders"].groupBy("o_orderstatus").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )
    return agg.unpivot(
        ["o_orderstatus"], ["total_price", "avg_price"], "measure", "val"
    )


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING_ID(o_orderstatus, o_orderpriority) AS gid,
           count(*) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_grouping_sets_revenue(spark, t):
    """Explicit GROUPING SETS (rollup/cube's general form, both already
    in the corpus): one shuffle computes all three groupings;
    grouping_id disambiguates a NULL group value from a subtotal row."""
    return (
        t["orders"]
        .groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "pricing_summary",
    oracle="""
    WITH d AS (
        SELECT l_returnflag, l_linestatus,
               CAST(l_quantity AS DECIMAL(9,2)) AS qty,
               CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
               CAST(l_discount AS DECIMAL(4,2)) AS disc,
               CAST(l_tax AS DECIMAL(4,2)) AS tax
        FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(qty) AS DOUBLE) AS sum_qty,
           CAST(SUM(price) AS DOUBLE) AS sum_base_price,
           CAST(SUM(price * (1 - disc)) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(price * (1 - disc) * (1 + tax)) AS DOUBLE) AS sum_charge,
           CAST(SUM(qty) AS DOUBLE) / count(*) AS avg_qty,
           CAST(SUM(price) AS DOUBLE) / count(*) AS avg_price,
           CAST(SUM(disc) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM d GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark, t):
    """TPC-H Q1-shaped pricing summary — the canonical scan-heavy
    aggregate: ~600k-row scan at sf0.1 collapsing to a handful of
    groups, entirely whole-stage-codegen with map-side partial
    aggregation, so the shuffle carries only |groups| x partitions
    rows. The engine's pure-scan-throughput headline.

    Parity design: money quantized to DECIMAL at the scan, summed
    EXACTLY (scales sized so no product overflows precision — no
    engine-specific rescale rounding), then cast to double once at the
    end. Double SUMs rounded post-hoc would carry order-of-accumulation
    noise across 600k rows and can straddle a rounding boundary
    differently per engine; exact decimal sums are bit-identical."""
    qty = F.col("l_quantity").cast("decimal(9,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    n = F.count(F.lit(1))
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
            .cast("double")
            .alias("sum_charge"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(price).cast("double") / n).alias("avg_price"),
            (F.sum(disc).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "user_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type, count(*) AS cnt
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def q_user_event_transitions(spark, t):
    """lead/lag analytics (SURVEY §2.E notes the reference computes its
    funnel with group-bys and has no lag — the engine exposes it): the
    event-type transition matrix per user. One key-shuffle for the
    window, then a partial-aggregated count."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        t["events"]
        .select("user_id", "event_type", F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "customer_order_ranks",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               RANK() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
               DENSE_RANK() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS dense_price_rank,
               ROUND(SUM(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS running_spend
        FROM orders
    )
    SELECT * FROM ranked WHERE price_rank <= 3
    """,
)
def q_customer_order_ranks(spark, t):
    """rank/dense_rank + an explicit ROWS frame (running per-customer
    spend) — the analytic-window family the reference lacks entirely.
    The running sum's frame order is total (date, then key), so the
    left-to-right accumulation is identical in both engines."""
    wr = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    wf = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(wr).alias("price_rank"),
            F.dense_rank().over(wr).alias("dense_price_rank"),
            F.round(F.sum("o_totalprice").over(wf), 2).alias("running_spend"),
        )
        .filter(F.col("price_rank") <= 3)
    )


@query(
    "order_value_distribution",
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           NTILE(10) OVER w AS value_decile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           NTH_VALUE(o_orderkey, 2) OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_largest_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_order_value_distribution(spark, t):
    """Distribution analytics: ntile, percent_rank, cume_dist, and a
    full-frame nth_value, all over one partitioned/ordered window (no
    global-window scale smell — each priority partition sorts
    independently). Ratios are exact small-integer divisions rounded
    identically on both sides."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t["orders"].select(
        "o_orderpriority",
        "o_orderkey",
        F.ntile(10).over(w).alias("value_decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_largest_key"),
    )


@query(
    "user_event_paths",
    oracle="""
    SELECT user_id,
           array_to_string((list(event_type ORDER BY ts, event_id))[1:20], '>')
               AS path,
           count(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def q_user_event_paths(spark, t):
    """Ordered array aggregation (the clickstream 'path' shape).
    collect_list gives NO ordering guarantee under partial aggregation
    — the deterministic form collects (ts, event_id, type) structs,
    array_sorts locally, then projects the type, all map-side after one
    key shuffle; the oracle is DuckDB's ordered list(). The path is
    RENDERED as a '>'-joined string on both sides so the external
    comparison never has to hash a list-typed cell."""
    return (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("ts", "event_id", "event_type"))
                        ),
                        lambda s: s["event_type"],
                    ),
                    1,
                    20,
                ),
                ">",
            ).alias("path"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "order_price_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bin,
           count(*) AS cnt,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders GROUP BY 1
    """,
)
def q_order_price_histogram(spark, t):
    """Fixed-width binning/histogram: the bin id is computed map-side
    so the aggregation partial-combines to |bins| rows per task before
    the shuffle — constant shuffle volume at any scale."""
    return (
        t["orders"]
        .groupBy(
            F.floor(F.col("o_totalprice") / 25000).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "customer_geo_nearest",
    oracle="""
    WITH pts AS (
        SELECT c_custkey, c_nationkey,
               (CAST(list_sum(list_transform(generate_series(1, 8),
                    k -> (instr('0123456789abcdef',
                                 substr(md5(CAST(c_custkey AS STRING)), k, 1)) - 1)
                         * 16 ** (8 - k))) AS BIGINT) % 120000) / 1000.0 - 60
                   AS lat,
               ((CAST(list_sum(list_transform(generate_series(1, 8),
                    k -> (instr('0123456789abcdef',
                                 substr(md5(CAST(c_custkey AS STRING)), k, 1)) - 1)
                         * 16 ** (8 - k))) AS BIGINT) // 120000) % 360000) / 1000.0
                   - 180 AS lon
        FROM customer
    )
    SELECT p.c_custkey, n.n_name, p.lat, p.lon,
           p.lat * p.lat + p.lon * p.lon AS d2
    FROM pts p JOIN nation n ON n.n_nationkey = p.c_nationkey
    WHERE p.lat BETWEEN -30 AND 30 AND p.lon BETWEEN -60 AND 60
    ORDER BY d2, p.c_custkey LIMIT 10
    """,
)
def q_customer_geo_nearest(spark, t):
    """Geo surface (the reference's dashboard maps median-imputed
    Latitude/Longitude, app.py:483-493; SURVEY §1.2 FLOAT64 row):
    bounding-box filter + k-nearest to a point. Coordinates are
    md5-derived from the key (the F24 deterministic-synthesis pattern —
    testdata has no geo columns); distance is squared equirectangular —
    pure arithmetic on identical doubles, no trig whose last-ulp
    behavior differs across libm implementations. Top-k plans as
    TakeOrderedAndProject after a broadcast nation join — no global
    sort."""
    h = F.conv(
        F.md5(F.col("c_custkey").cast("string")).substr(1, 8), 16, 10
    ).cast("bigint")
    pts = t["customer"].select(
        "c_custkey",
        "c_nationkey",
        ((h % 120000) / F.lit(1000.0) - 60).alias("lat"),
        (
            (F.expr(
                "(cast(conv(substr(md5(cast(c_custkey as string)), 1, 8), 16, 10)"
                " as bigint) div 120000) % 360000"
            ))
            / F.lit(1000.0)
            - 180
        ).alias("lon"),
    )
    return (
        pts.filter(F.col("lat").between(-30, 30) & F.col("lon").between(-60, 60))
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            pts.c_nationkey == F.col("n_nationkey"),
        )
        .select(
            "c_custkey",
            "n_name",
            "lat",
            "lon",
            (F.col("lat") * F.col("lat") + F.col("lon") * F.col("lon")).alias("d2"),
        )
        .orderBy("d2", "c_custkey")
        .limit(10)
    )


# Import order is registration order: QUERIES and ORACLES keep it, the
# oracle pin digest (tests/corpus_pin.py) hashes it, and
# __spark_entry__.window breaks ties by it. Append new modules at the end.
from . import llm_queries  # noqa: E402,F401
from . import tpch_queries  # noqa: E402,F401
from . import analytics_queries  # noqa: E402,F401
from . import round3_queries  # noqa: E402,F401
from . import round3b_queries  # noqa: E402,F401
from . import round4_queries  # noqa: E402,F401
from . import round5_queries  # noqa: E402,F401
from . import round6_queries  # noqa: E402,F401
from . import round6b_queries  # noqa: E402,F401
from . import round6c_queries  # noqa: E402,F401
from . import round6d_queries  # noqa: E402,F401
from . import round6e_queries  # noqa: E402,F401
from . import round6f_queries  # noqa: E402,F401
from . import round6g_queries  # noqa: E402,F401
from . import round7_queries  # noqa: E402,F401
from . import round7b_queries  # noqa: E402,F401
from . import round8_queries  # noqa: E402,F401
from . import round8b_queries  # noqa: E402,F401
from . import round9_queries  # noqa: E402,F401
from . import round9b_queries  # noqa: E402,F401
from . import round9c_queries  # noqa: E402,F401
from . import round9d_queries  # noqa: E402,F401
from . import round9e_queries  # noqa: E402,F401
from . import round10_queries  # noqa: E402,F401
from . import round10b_queries  # noqa: E402,F401
from . import round10c_queries  # noqa: E402,F401
from . import round11_queries  # noqa: E402,F401
from . import round11b_queries  # noqa: E402,F401
from . import round12_queries  # noqa: E402,F401
