"""TPC-H-shaped analytical join queries over the testdata star schema.

The reference's Gold layer is one multi-way star join
(``PROJECT/ecom_Gold_Layer.ipynb:62-84``) and its dashboard runs
filter -> join -> aggregate -> top-k marts (``app.py`` tabs).  These
queries exercise the same plan shapes at their industry-standard
hardest: selective multi-way joins (Q3/Q5), semi-join EXISTS (Q4),
cross-nation pair analysis (Q7), conditional-aggregate market share
(Q8), decorrelated scalar subquery (Q17), disjunctive predicate
join (Q19), and scalar-threshold + NOT EXISTS anti-join (Q22) —
each a canonical 100 TB plan-shape stressor.

Scale notes (local[32] now, 1000-executor target):
- dimension chains (region/nation/customer-slice, part-slice,
  supplier) are broadcast explicitly; the probe side never shuffles
  for them.
- selective filters are applied BEFORE joins so Catalyst pushes them
  into the parquet scan (verified: ``PushedFilters`` on
  ``c_mktsegment``, ``o_orderdate``, ``p_brand``).
- fact-fact joins (orders x lineitem) shuffle on the join key once;
  group-bys reuse that partitioning where keys align (Q3 groups by
  ``l_orderkey`` right after the ``l_orderkey`` join).
- top-k always goes through ``orderBy().limit()`` ->
  ``TakeOrderedAndProject`` (no global sort materialization).

Registered into the same QUERIES/ORACLES registry as the relational
corpus (imported at the end of ``corpus.py``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from .corpus import query


def _ts(lit: str):
    """UTC midnight timestamp literal matching DuckDB ``TIMESTAMP 'x'``."""
    return F.lit(lit).cast("timestamp")


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q_q3_shipping_priority(spark, t):
    """TPC-H Q3 shape: segment-filtered customers x date-filtered orders
    x shipped-later lineitems, grouped per order, top-10 by revenue.

    Reference parity: the dashboard's filter->join->agg->nlargest marts
    (app.py:253-260,400) composed into one plan.  The filtered customer
    slice (~1/5 of an already-small dim) is broadcast; the orders
    filter pushes into the scan; the final group-by key equals the
    orders-lineitem join key so AQE keeps the partitioning.
    """
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = (
        t["orders"]
        .filter(F.col("o_orderdate") < _ts("1998-01-01"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
    )
    li = t["lineitem"].filter(F.col("l_shipdate") > _ts("1998-01-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q4_priority_semi_exists",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def q_q4_priority_semi_exists(spark, t):
    """TPC-H Q4 shape: EXISTS over the fact table as a left-semi join
    with a cross-column residual predicate (shipped >60 days after
    order), counted per priority.

    The only anti/semi construct in the reference is the SCD2 MERGE
    not-matched branch (Scd_Type2.sql:46-53); this is its semi twin at
    fact-fact scale.  Spark plans a shuffle on ``orderkey`` for the
    semi join and the residual stays in the join condition — no
    fan-out, no dedup pass.
    """
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    semi = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def q_q5_local_supplier_volume(spark, t):
    """TPC-H Q5 shape: six-way join with a cyclic condition (customer
    and supplier must share a nation) — the hardest join-ordering case
    in the dashboard's geography chain (corpus ``revenue_by_region``).

    Plan: region->nation restricts to ASIA nations (broadcast);
    customer and supplier are pre-joined to that slice (broadcast
    probes, no shuffle); the one real shuffle is orders x lineitem on
    ``orderkey``; the cyclic nation-equality is enforced as a residual
    equi-condition on the supplier join.
    """
    asia_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    cust = (
        t["customer"]
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
    )
    supp = (
        t["supplier"]
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    orders = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01"))
            & (F.col("o_orderdate") < _ts("1998-01-01"))
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
    )
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "q7_nation_trade_volume",
    oracle="""
    SELECT cn.n_name AS cust_nation,
           sn.n_name AS supp_nation,
           CAST(YEAR(l.l_shipdate) AS BIGINT) AS ship_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS volume
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    WHERE cn.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4','NATION_5')
      AND sn.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4','NATION_5')
      AND cn.n_name <> sn.n_name
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY cust_nation, supp_nation, ship_year
    ORDER BY cust_nation, supp_nation, ship_year
    """,
)
def q_q7_nation_trade_volume(spark, t):
    """TPC-H Q7 shape: cross-border trade volume between nation pairs
    per ship year — the cross-entity flavor of the dashboard's monthly
    revenue-by-state mart (app.py:345-347).

    Both nation slices broadcast through customer and supplier; the
    pair predicate (customer nation != supplier nation) spans the two
    sides, so it applies after both enrich joins — it cannot push
    below either; one shuffle for orders x lineitem, one for the
    final group-by.
    """
    trade_nations = ["NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5"]
    nations = t["nation"].filter(F.col("n_name").isin(*trade_nations))
    cust = (
        t["customer"]
        .join(F.broadcast(nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    supp = (
        t["supplier"]
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = (
        t["orders"]
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("volume")
        )
        .orderBy("cust_nation", "supp_nation", "ship_year")
    )


@query(
    "q8_market_share",
    oracle="""
    SELECT CAST(YEAR(o.o_orderdate) AS BIGINT) AS order_year,
           ROUND(SUM(CASE WHEN sn.n_name = 'NATION_3'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS mkt_share
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = cn.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'EUROPE'
    GROUP BY order_year
    ORDER BY order_year
    """,
)
def q_q8_market_share(spark, t):
    """TPC-H Q8 shape: one nation's share of a region's import volume
    per year — a conditional-aggregate ratio (G11 ``sum(when)`` over
    the J3 geography chain), the engine form of the dashboard's
    conversion-rate KPIs (app.py:258-260).

    Every dimension path is broadcast; the single shuffle pair is
    orders x lineitem then the year group-by.  The CASE lives inside
    the aggregate, so both numerator and denominator come out of one
    pass (no self-join).
    """
    europe_cust = (
        t["customer"]
        .join(
            F.broadcast(
                t["nation"].join(
                    F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    orders = (
        t["orders"]
        .join(F.broadcast(europe_cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("mkt_share")
        )
        .orderBy("order_year")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4'
      AND l.l_quantity < (
        SELECT 0.5 * AVG(l2.l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey
      )
    """,
)
def q_q17_small_quantity_revenue(spark, t):
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity threshold), decorrelated Spark-side into a partial
    aggregate + broadcast join.

    The scalar-subquery pattern appears in the reference as the SCD2
    SK offset (Scd_Type2.sql:33-34); this is its per-group
    generalization.  The per-part averages frame is tiny (one row per
    part) and broadcast; lineitem is scanned once for the averages and
    once for the probe — at 100 TB the averages side would be
    pre-aggregated map-side (partial avg) before its shuffle, which is
    exactly what Catalyst plans for the groupBy.
    """
    brand_parts = (
        t["part"].filter(F.col("p_brand") == "Brand#4").select("p_partkey")
    )
    part_avg = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg((F.avg("l_quantity") * F.lit(0.5)).alias("qty_threshold"))
        .join(F.broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_partkey").alias("t_partkey"), "qty_threshold")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(part_avg), F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / F.lit(7.0), 2).alias("avg_yearly"))
    )


@query(
    "q22_prospective_customers",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS num_cust,
           ROUND(SUM(c.c_acctbal), 2) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c.c_mktsegment
    """,
)
def q_q22_prospective_customers(spark, t):
    """TPC-H Q22 shape: global scalar-subquery threshold (average
    positive balance) combined with NOT EXISTS (lapsed customers —
    no order since 2000), grouped per market segment.

    The scalar average is computed as a 1-row frame and crossJoin-
    broadcast onto the probe — no ``collect()``, so the plan stays a
    single DAG the scheduler can overlap with the anti-join side.
    The NOT EXISTS maps to ``left_anti`` against the bare ``o_custkey``
    column (column-pruned scan of orders, shuffle on the key only).
    """
    avg_bal = (
        t["customer"]
        .filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    return (
        t["customer"]
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            t["orders"]
            .filter(F.col("o_orderdate") >= _ts("2000-01-01"))
            .select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("num_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@query(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS line_count
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#2'  AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#17' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def q_q19_disjunctive_predicates(spark, t):
    """TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides.

    The part side of each disjunct (brand + size band) is pushed into
    the broadcast build; the cross-side residual (quantity band per
    brand) stays in the join filter.  Catalyst extracts the common
    part-side filter ``p_brand IN (...)`` below the join
    (PushedFilters on the part scan), which is the scan-reduction that
    matters at 100 TB — the disjunction itself is cheap codegen.
    """
    part = t["part"].select("p_partkey", "p_brand", "p_size")
    li = t["lineitem"].select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#17")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_brand").isin("Brand#2", "Brand#17", "Brand#19"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("line_count"),
        )
    )


# --------------------------------------------------------------------------
# Round 2: the rest of the TPC-H suite, shaped to the slim testdata
# schema (no partsupp table and no commit/receipt dates — lineitem's
# (l_partkey, l_suppkey) pairs stand in for partsupp, and ship-vs-order
# date gaps stand in for the commit/receipt lateness predicates).
# --------------------------------------------------------------------------


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS line_count
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
)
def q_q6_forecast_revenue(spark, t):
    """TPC-H Q6 shape: pure scan-filter-aggregate, zero joins — the
    predicate-pushdown benchmark.  All three filters push into the
    parquet scan (PushedFilters on l_shipdate/l_discount/l_quantity);
    the aggregate is a single partial+final pass with no shuffle of
    row data (only 1-row partials).
    """
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
            & F.col("l_discount").between(0.04, 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count("*").alias("line_count"),
        )
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           ROUND(c.c_acctbal, 2) AS acctbal
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-07-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_q10_returned_items(spark, t):
    """TPC-H Q10 shape: lost-revenue ranking of customers who returned
    goods in a half-year window.  Customer (with its nation name pre-
    attached, both broadcast) enriches the order side before the one
    fact-fact shuffle; the returnflag filter pushes into the lineitem
    scan; top-20 is TakeOrderedAndProject.
    """
    cust = (
        t["customer"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "n_name", "c_acctbal")
    )
    orders = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= _ts("1997-07-01"))
            & (F.col("o_orderdate") < _ts("1998-01-01"))
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_custkey", "c_name", "n_name", "c_acctbal")
    )
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey
         AND o.o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c.c_custkey
    ) per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_q13_order_count_distribution(spark, t):
    """TPC-H Q13 shape: customer order-count histogram through an
    outer join with a join-side residual predicate (priority filter
    must live in the ON clause, not WHERE — moving it would drop the
    zero-order customers the histogram exists to count).

    Double aggregation: the first groups on the join key (reuses the
    join shuffle under AQE), the second is a tiny histogram shuffle.
    """
    orders = t["orders"].filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
    per_cust = (
        t["customer"]
        .select("c_custkey")
        .join(orders.select("o_custkey", "o_orderkey"),
              F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q14_promo_revenue_share",
    oracle="""
    SELECT ROUND(
             100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def q_q14_promo_revenue_share(spark, t):
    """TPC-H Q14 shape: promotion revenue share in one month — a
    conditional-aggregate ratio over a broadcast part join.  Numerator
    and denominator come out of a single aggregation pass; the month
    filter pushes into the lineitem scan so the join probes ~1/80 of
    the fact table.
    """
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-09-01"))
            & (F.col("l_shipdate") < _ts("1997-10-01"))
        )
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q_q15_top_supplier(spark, t):
    """TPC-H Q15 shape: top supplier by quarterly revenue via a scalar
    subquery over an aggregated view (ties kept, unlike a bare top-1).

    The revenue frame is one row per supplier (tiny); its max is a
    1-row broadcast cross-attach — no collect(), the whole thing is a
    single DAG.  Revenue is rounded BEFORE the max/equality so the
    tie comparison is on stable 2-decimal values in both engines.
    """
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1997-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type <> 'PROMO'
      AND p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
    GROUP BY p.p_brand, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
    """,
)
def q_q16_supplier_part_counts(spark, t):
    """TPC-H Q16 shape: how many distinct suppliers ship each
    brand/size combination (lineitem's (partkey, suppkey) pairs stand
    in for partsupp).  The part filters — two exclusions and a size
    IN-list — all push into the broadcast build side; COUNT(DISTINCT)
    expands to the standard two-phase distinct aggregate.
    """
    part = t["part"].filter(
        (F.col("p_type") != "PROMO")
        & (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    return (
        t["lineitem"]
        .select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
        SELECT l.l_partkey, l.l_suppkey,
               ROUND(MIN(l.l_extendedprice / l.l_quantity), 2) AS supply_cost
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'STANDARD'
        GROUP BY l.l_partkey, l.l_suppkey
    ),
    mins AS (
        SELECT l_partkey, MIN(supply_cost) AS min_cost
        FROM ps GROUP BY l_partkey
    )
    SELECT p.p_partkey, p.p_name, s.s_name, n.n_name, ps.supply_cost
    FROM ps
    JOIN mins ON mins.l_partkey = ps.l_partkey AND ps.supply_cost = mins.min_cost
    JOIN part p ON p.p_partkey = ps.l_partkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    ORDER BY p.p_partkey, s.s_name
    """,
)
def q_q2_min_cost_supplier(spark, t):
    """TPC-H Q2 shape: cheapest supplier per part (correlated-min
    subquery), decorrelated into a per-part min window over the
    observed (part, supplier) unit prices — lineitem stands in for
    partsupp.

    One shuffle builds the ps aggregate; the per-part min is a window
    over the SAME partitioning (no second shuffle); dims broadcast.
    Unit costs are rounded to 2 decimals before the min/equality so
    the tie comparison is engine-stable.
    """
    part = t["part"].filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "STANDARD")
    )
    ps = (
        t["lineitem"]
        .join(
            F.broadcast(part.select("p_partkey", "p_name")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_partkey", "l_suppkey", "p_partkey", "p_name")
        .agg(
            F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 2).alias(
                "supply_cost"
            )
        )
    )
    w = Window.partitionBy("l_partkey")
    return (
        ps.withColumn("min_cost", F.min("supply_cost").over(w))
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .join(
            F.broadcast(
                t["supplier"].select("s_suppkey", "s_name", "s_nationkey")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("p_partkey", "p_name", "s_name", "n_name", "supply_cost")
        .orderBy("p_partkey", "s_name")
    )


@query(
    "q9_product_type_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                     - 0.1 * p.p_retailprice * l.l_quantity), 2) AS profit
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q_q9_product_type_profit(spark, t):
    """TPC-H Q9 shape: profit by supplier nation and order year for
    parts matching a name pattern.  Supply cost is proxied as 10% of
    the part's retail price (the slim schema has no partsupp.supplycost).

    part (LIKE-filtered), supplier, and nation all broadcast; the one
    fact-fact shuffle is lineitem x orders on orderkey; the final
    (nation, year) group-by is a small second shuffle.
    """
    part = t["part"].filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    supp = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", F.col("n_name").alias("nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "nation")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
                ),
                2,
            ).alias("profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH val AS (
        SELECT l.l_partkey,
               CAST(ROUND(SUM(l.l_extendedprice) * 100) AS BIGINT) AS value_cents
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        GROUP BY l.l_partkey
    )
    SELECT l_partkey, ROUND(value_cents / 100.0, 2) AS part_value
    FROM val
    WHERE value_cents * 1000 > (SELECT SUM(value_cents) FROM val)
    ORDER BY value_cents DESC, l_partkey
    """,
)
def q_q11_important_parts(spark, t):
    """TPC-H Q11 shape: parts representing more than 0.1% of the
    tracked nations' shipped value (global scalar-subquery threshold
    over a grouped aggregate).

    The threshold comparison runs on integer CENTS (value_cents * 1000
    vs the summed total) so the >-vs-threshold verdict is exact in
    both engines — summing rounded doubles and comparing at the 0.1%
    boundary would be float-order-dependent.  The per-part frame is
    tiny; its total is a 1-row broadcast cross-attach.
    """
    supp = (
        t["supplier"]
        .join(
            F.broadcast(
                t["nation"].filter(
                    F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    val = (
        t["lineitem"]
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.round(F.sum("l_extendedprice") * 100)
            .cast("long")
            .alias("value_cents")
        )
    )
    total = val.agg(F.sum("value_cents").alias("total_cents"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select(
            "l_partkey",
            F.round(F.col("value_cents") / 100.0, 2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@query(
    "q12_priority_shipping",
    oracle="""
    SELECT l.l_linestatus AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 20 DAY
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY ship_class
    ORDER BY ship_class
    """,
)
def q_q12_priority_shipping(spark, t):
    """TPC-H Q12 shape: late-shipment counts split by order priority
    class (l_linestatus stands in for l_shipmode; ship-vs-order date
    gap stands in for the commit/receipt lateness chain).

    The year filter pushes into the lineitem scan; the cross-table
    lateness predicate rides the join as a residual; both CASE counts
    come from one aggregation pass.
    """
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority"),
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 20 DAYS")),
        )
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           ROUND(o.o_totalprice, 2) AS total_price,
           SUM(l.l_quantity) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY total_price DESC, o.o_orderkey
    LIMIT 20
    """,
)
def q_q18_large_volume_customers(spark, t):
    """TPC-H Q18 shape: large-volume orders (IN over a grouped HAVING
    subquery) with their customers, top-20 by order value.

    The HAVING subquery is one aggregation over lineitem reused as a
    left-semi join on orderkey — same shuffle partitioning as the
    detail join that follows, so AQE lines the exchanges up.  Customer
    broadcast; top-20 is TakeOrderedAndProject.
    """
    big_orders = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
        .select("l_orderkey")
    )
    orders = t["orders"].join(
        big_orders.withColumnRenamed("l_orderkey", "big_orderkey"),
        F.col("o_orderkey") == F.col("big_orderkey"),
        "left_semi",
    )
    return (
        t["lineitem"]
        .select("l_orderkey", "l_quantity")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice"), 2).alias("total_price"),
            "total_qty",
        )
        .orderBy(F.desc("total_price"), "o_orderkey")
        .limit(20)
    )


@query(
    "q20_excess_shipments",
    oracle="""
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_type = 'PROMO'
          AND l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l.l_suppkey
        HAVING SUM(l.l_quantity) > 400
    )
    ORDER BY s.s_name
    """,
)
def q_q20_excess_shipments(spark, t):
    """TPC-H Q20 shape: suppliers who moved an outsized volume of one
    part class in a year (IN over a filtered, grouped HAVING subquery
    — availqty stands are replaced by shipped-quantity thresholds).

    The inner aggregate shuffles on suppkey only (two pruned columns);
    the result is a handful of keys applied to supplier as a
    broadcast left-semi join; nation broadcast-enriches the survivors.
    """
    heavy = (
        t["lineitem"]
        .join(
            F.broadcast(
                t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("promo_qty"))
        .filter(F.col("promo_qty") > 400)
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(F.broadcast(heavy), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    late AS (
        SELECT DISTINCT l.l_orderkey, l.l_suppkey
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    ),
    multi AS (
        SELECT l_orderkey FROM pairs GROUP BY l_orderkey HAVING COUNT(*) > 1
    ),
    sole_late AS (
        SELECT l_orderkey FROM late GROUP BY l_orderkey HAVING COUNT(*) = 1
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM late
    JOIN multi USING (l_orderkey)
    JOIN sole_late USING (l_orderkey)
    JOIN supplier s ON s.s_suppkey = late.l_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q_q21_waiting_suppliers(spark, t):
    """TPC-H Q21 shape: suppliers who single-handedly held up
    finished multi-supplier orders — the EXISTS (another supplier on
    the order) + NOT EXISTS (another LATE supplier on the order)
    double-correlation, decorrelated into ONE per-order aggregation:
    the waiting supplier of an order is the sole member of its
    late-supplier set when the order has >1 distinct suppliers.

    One fact shuffle total: lineitem joins date-pruned 'F' orders on
    orderkey, and the per-order aggregate reuses that exchange (the
    orderkey partitioning already clusters the groupBy key). The
    late-supplier set is bounded by suppliers-per-order (schema-small),
    so collect_set state is O(1) per order. 'Late' is shipped >30 days
    after the order date (no receipt/commit dates in the slim schema).
    """
    li_o = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            t["orders"]
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .withColumn(
            "late_supp",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
                F.col("l_suppkey"),
            ),
        )
    )
    # size(collect_set) instead of count_distinct: both sets come out
    # of ONE aggregation pass (a count_distinct alongside another agg
    # would plan an Expand that doubles the shuffled rows)
    per_order = li_o.groupBy("l_orderkey").agg(
        F.collect_set("l_suppkey").alias("supp_set"),
        F.collect_set("late_supp").alias("late_set"),
    )
    waiting = per_order.filter(
        (F.size("supp_set") > 1) & (F.size("late_set") == 1)
    ).select(F.element_at("late_set", 1).alias("l_suppkey"))
    return (
        waiting.join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )
