"""E-commerce analytics marts beyond the reference dashboard: cohort
retention, RFM segmentation, market-basket co-occurrence, and a
mergeable-sketch distinct rollup.

These are the marts the reference's README aspires to
(``README.md:83`` gold_conversion_rates / product_performance) built
as engine queries over the testdata star schema — registered into the
same QUERIES/ORACLES registry (imported at the end of ``corpus.py``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..operators.pinning import pin
from .corpus import query


@query(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
    ),
    cohorts AS (
        SELECT user_id, date_trunc('month', first_ts) AS cohort_month FROM firsts
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('month', ts) AS act_month FROM events
    ),
    joined AS (
        SELECT c.cohort_month,
               CAST((YEAR(a.act_month) - YEAR(c.cohort_month)) * 12
                    + (MONTH(a.act_month) - MONTH(c.cohort_month)) AS BIGINT)
                   AS month_offset,
               a.user_id
        FROM cohorts c JOIN activity a USING (user_id)
    ),
    sizes AS (
        SELECT cohort_month, COUNT(*) AS cohort_users
        FROM cohorts GROUP BY cohort_month
    )
    SELECT substr(CAST(j.cohort_month AS STRING), 1, 7) AS cohort,
           j.month_offset,
           COUNT(DISTINCT j.user_id) AS active_users,
           s.cohort_users,
           ROUND(COUNT(DISTINCT j.user_id) * 100.0 / s.cohort_users, 4)
               AS retention_pct
    FROM joined j JOIN sizes s USING (cohort_month)
    GROUP BY cohort, j.month_offset, s.cohort_users
    """,
)
def q_cohort_retention(spark, t):
    """Cohort retention matrix: users grouped by first-activity month,
    tracked by the share still active k months later — the canonical
    retention mart the reference's README claims and its dashboard
    approximates with segment donuts (app.py:483-530).

    Scale shape: first-activity and monthly-activity frames are both
    one groupBy over events keyed on user_id, so the cohort join
    reuses the same hash partitioning; the per-(cohort, offset)
    distinct count is the only second shuffle. No windows, no
    collects.
    """
    ev = t["events"]
    cohorts = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
        .select("user_id", F.date_trunc("month", "first_ts").alias("cohort_month"))
    )
    activity = ev.select(
        "user_id", F.date_trunc("month", "ts").alias("act_month")
    ).distinct()
    month_offset = (
        (F.year("act_month") - F.year("cohort_month")) * 12
        + (F.month("act_month") - F.month("cohort_month"))
    ).cast("long")
    joined = cohorts.join(activity, "user_id").select(
        "cohort_month", month_offset.alias("month_offset"), "user_id"
    )
    sizes = cohorts.groupBy("cohort_month").agg(
        F.count("*").alias("cohort_users")
    )
    return (
        joined.join(sizes, "cohort_month")
        .groupBy(
            F.date_format("cohort_month", "yyyy-MM").alias("cohort"),
            "month_offset",
            "cohort_users",
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
        .select(
            "cohort",
            "month_offset",
            "active_users",
            "cohort_users",
            F.round(
                F.col("active_users") * 100.0 / F.col("cohort_users"), 4
            ).alias("retention_pct"),
        )
    )


@query(
    "rfm_segments",
    oracle="""
    WITH maxd AS (SELECT MAX(o_orderdate) AS d FROM orders),
    per_cust AS (
        SELECT o_custkey,
               CAST(CAST((SELECT d FROM maxd) AS DATE)
                    - CAST(MAX(o_orderdate) AS DATE)
                    AS BIGINT) AS recency_days,
               COUNT(*) AS frequency,
               ROUND(SUM(o_totalprice), 2) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT *,
               CASE WHEN recency_days <= 90 THEN 4
                    WHEN recency_days <= 180 THEN 3
                    WHEN recency_days <= 330 THEN 2 ELSE 1 END AS r_score,
               CASE WHEN frequency >= 12 THEN 4
                    WHEN frequency >= 10 THEN 3
                    WHEN frequency >= 8 THEN 2 ELSE 1 END AS f_score,
               CASE WHEN monetary >= 3000000 THEN 4
                    WHEN monetary >= 2400000 THEN 3
                    WHEN monetary >= 1800000 THEN 2 ELSE 1 END AS m_score
        FROM per_cust
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           ROUND(SUM(monetary), 2) AS segment_revenue,
           ROUND(AVG(recency_days), 4) AS avg_recency_days
    FROM scored
    GROUP BY r_score, f_score, m_score
    """,
)
def q_rfm_segments(spark, t):
    """RFM segmentation: each customer scored 1-4 on Recency /
    Frequency / Monetary against fixed business thresholds, rolled up
    per segment — the engine form of the dashboard's customer-segment
    donut (app.py:483-530), with real purchase behavior instead of
    random segment labels.

    Fixed thresholds (not global quantile ranks) keep scoring
    MAP-SIDE after the one per-customer aggregation — a global
    NTILE(4) would funnel every customer through a single-task
    window, the SK anti-pattern this engine avoids. The reference
    anchor date is the table's max order date (1-row broadcast
    cross-attach, no collect).
    """
    maxd = t["orders"].agg(F.max("o_orderdate").alias("anchor"))
    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            # rounded to cents BEFORE threshold banding: cross-engine
            # float-summation-order differences must not flip a
            # customer across an exact band boundary
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .withColumn(
            "recency_days",
            F.datediff(F.col("anchor"), F.col("last_order")).cast("long"),
        )
    )
    def band(col, b4, b3, b2):
        return (
            F.when(col >= b4, 4).when(col >= b3, 3).when(col >= b2, 2).otherwise(1)
        )
    scored = per_cust.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.when(F.col("recency_days") <= 90, 4)
        .when(F.col("recency_days") <= 180, 3)
        .when(F.col("recency_days") <= 330, 2)
        .otherwise(1)
        .alias("r_score"),
        band(F.col("frequency"), 12, 10, 8).alias("f_score"),
        band(F.col("monetary"), 3000000, 2400000, 1800000).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("monetary"), 2).alias("segment_revenue"),
        F.round(F.avg("recency_days"), 4).alias("avg_recency_days"),
    )


@query(
    "basket_part_pairs",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS support
    FROM op a
    JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    ORDER BY support DESC, part_a, part_b
    LIMIT 20
    """,
)
def q_basket_part_pairs(spark, t):
    """Market-basket co-occurrence: the top part pairs bought together
    in one order (frequent-itemset support counting, the first step of
    association-rule mining over an order log).

    Scale shape: one groupBy on orderkey collects each basket's
    distinct parts (bounded by lines-per-order — schema-small), pairs
    unfold MAP-SIDE from the sorted basket array (part_a < part_b by
    construction), and the support count is one narrow shuffle on the
    pair. A self-join formulation would shuffle the order-part
    relation twice; this shape touches it once.
    """
    baskets = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") > 1)
    )
    pair_expr = (
        "flatten(transform(parts, (a, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "b -> struct(a AS part_a, b AS part_b))))"
    )
    return (
        baskets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy("p.part_a", "p.part_b")
        .agg(F.count("*").alias("support"))
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(20)
    )


@query(
    "hll_rollup_contract",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS rollup_ok
    FROM events
    GROUP BY event_type
    """,
)
def q_hll_rollup_contract(spark, t):
    """Mergeable-sketch distinct rollup: per-(event_type, day) HLL
    sketches unioned up to event_type level, with the merged estimate
    scored against the exact distinct count (DataSketches
    hll_sketch_agg / hll_union_agg, Spark 3.5+).

    This is THE 100 TB distinct-count pattern: daily partitions each
    emit a kilobyte sketch once, and any coarser rollup (weekly,
    monthly, all-time) is a sketch union — no rescan of history, no
    shuffle of raw user ids. The exact twin here exists only to score
    the estimate; the contract (relative error within HLL's published
    bound for lgK=12) is the oracle-checked output.
    """
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sketch"))
    )
    rolled = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias("est_users")
    )
    exact = t["events"].groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        rolled.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                <= F.greatest(F.col("exact_users") * 0.05, F.lit(10.0))
            ).alias("rollup_ok"),
        )
    )


@query(
    "daily_revenue_gapfill_ma7",
    oracle="""
    WITH bounds AS (
        SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
               MAX(CAST(o_orderdate AS DATE)) AS d1
        FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    cal AS (
        -- portable series: constant-bound range TVF + scalar-subquery
        -- filter (both engines reject subqueries INSIDE TVF args);
        -- 100000 days ~ 274 years, far past any order/event horizon
        SELECT CAST((SELECT d0 FROM bounds) + i * INTERVAL 1 DAY AS DATE)
               AS day
        FROM range(0, 100000) t(i)
        WHERE i <= (SELECT CAST(d1 - d0 AS BIGINT) FROM bounds)
    ),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(o_totalprice) AS revenue
        FROM orders WHERE o_orderpriority = '1-URGENT'
        GROUP BY day
    ),
    filled AS (
        SELECT c.day, COALESCE(d.revenue, 0.0) AS revenue
        FROM cal c LEFT JOIN daily d USING (day)
    )
    SELECT day,
           ROUND(revenue, 2) AS revenue,
           ROUND(AVG(revenue) OVER (ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7
    FROM filled
    """,
)
def q_daily_revenue_gapfill_ma7(spark, t):
    """Time-series resample: daily revenue for one priority class with
    CALENDAR GAP-FILL (every day between min and max exists, missing
    days at 0.0) and a trailing 7-day moving average — the resample /
    rolling-window pair every BI layer needs and pandas gives for free
    (``.resample('D').sum().rolling(7)``).

    Scale shape: the calendar spine is generated (``sequence()``), not
    scanned; daily revenue is one partial-agg'd shuffle; the rolling
    frame runs over the DATE-GRAIN series (bounded: one row per day —
    a decade is ~3,650 rows), so the unpartitioned window is bounded
    data by construction, never fact-grain.
    """
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    daily = urgent.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("revenue")
    )
    bounds = urgent.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    filled = cal.join(daily, "day", "left").select(
        "day", F.coalesce("revenue", F.lit(0.0)).alias("revenue")
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return filled.select(
        "day",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.avg("revenue").over(w), 2).alias("ma7"),
    )


def _profile_col_sql(col: str, numeric: bool) -> str:
    """Oracle fragment mirroring operators/profiling.profile_table for
    one column of orders."""
    if numeric:
        mins = f"MIN(CAST({col} AS DOUBLE))", f"MAX(CAST({col} AS DOUBLE))"
        smin = "CAST(NULL AS STRING)", "CAST(NULL AS STRING)"
    else:
        mins = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
        smin = f"MIN(CAST({col} AS STRING))", f"MAX(CAST({col} AS STRING))"
    return f"""
    SELECT '{col}' AS column,
           COUNT(*) AS n_rows,
           COUNT({col}) AS n_nonnull,
           COUNT(DISTINCT {col}) AS n_distinct,
           {mins[0]} AS numeric_min, {mins[1]} AS numeric_max,
           {smin[0]} AS string_min, {smin[1]} AS string_max,
           (SELECT MIN(v) FROM (
              SELECT CAST({col} AS STRING) AS v, COUNT(*) AS c FROM orders
              WHERE {col} IS NOT NULL GROUP BY v) t
            WHERE c = (SELECT MAX(c) FROM (
              SELECT COUNT(*) AS c FROM orders WHERE {col} IS NOT NULL
              GROUP BY CAST({col} AS STRING)) m)) AS top_value,
           (SELECT MAX(c) FROM (
              SELECT COUNT(*) AS c FROM orders WHERE {col} IS NOT NULL
              GROUP BY CAST({col} AS STRING)) m) AS top_count
    FROM orders
    """


_PROFILE_COLS = [
    ("o_orderstatus", False),
    ("o_orderpriority", False),
    ("o_custkey", True),
    ("o_totalprice", True),
]


@query(
    "orders_column_profile",
    oracle=" UNION ALL ".join(
        _profile_col_sql(c, num) for c, num in _PROFILE_COLS
    ),
)
def q_orders_column_profile(spark, t):
    """Generic column profiling (operators/profiling.profile_table)
    applied to orders: null counts, cardinality, typed min/max, and
    the dominant value per column — the automated replacement for the
    reference's hand-printed Silver mutation accounting
    (ecom_Silver_Layer.ipynb:14-108).

    Scale shape: one aggregation pass computes count/non-null/
    distinct/min/max for ALL profiled columns simultaneously; the
    dominant value adds one narrow per-column groupBy over the values
    only, resolved with scalar max + MIN tie-break (no global sort,
    no window).
    """
    from ..operators.profiling import profile_table

    return profile_table(t["orders"], [c for c, _ in _PROFILE_COLS])


@query(
    "customer_name_fuzzy_pairs",
    oracle="""
    WITH c AS (
        SELECT c_custkey, c_name,
               substr(c_name, 1, len(c_name) - 2) AS blk
        FROM customer
    )
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_distance
    FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY custkey_a, custkey_b
    LIMIT 100
    """,
)
def q_customer_name_fuzzy_pairs(spark, t):
    """Blocked fuzzy matching (entity resolution): candidate customer
    pairs whose names are within edit distance 1, generated WITHIN
    prefix blocks — the dedup family between exact hashing and
    MinHash, for typo-level variants.

    Scale shape: blocking on all-but-last-2 characters turns the
    O(n²) all-pairs Levenshtein into an equi-join on the block key
    (each block is small by construction); the quadratic edit-distance
    only runs inside blocks. The classic record-linkage architecture
    (block -> compare -> link), with the compare step in native
    codegen (levenshtein is a Catalyst expression).
    """
    c = t["customer"].select(
        "c_custkey",
        "c_name",
        F.expr("substr(c_name, 1, length(c_name) - 2)").alias("blk"),
    )
    a = c.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
        "blk",
    )
    b = c.select(
        F.col("c_custkey").alias("custkey_b"),
        F.col("c_name").alias("name_b"),
        "blk",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "blk")
        .filter(F.col("custkey_a") < F.col("custkey_b"))
        .filter(dist <= 1)
        .select(
            "custkey_a",
            "custkey_b",
            "name_a",
            "name_b",
            dist.cast("long").alias("edit_distance"),
        )
        .orderBy("custkey_a", "custkey_b")
        .limit(100)
    )


PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85


def _pagerank_oracle() -> str:
    """3 unrolled power iterations over the co-purchase graph."""
    prev = "r0"
    iters = []
    for i in range(1, PAGERANK_ITERS + 1):
        iters.append(f"""
    r{i} AS (
        SELECT n.part, {1 - PAGERANK_DAMPING} / (SELECT cnt FROM n_nodes)
               + {PAGERANK_DAMPING} * COALESCE(SUM(p.rank / d.deg), 0.0) AS rank
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.part
        LEFT JOIN {prev} p ON p.part = e.src
        LEFT JOIN degrees d ON d.part = e.src
        GROUP BY n.part
    )""")
        prev = f"r{i}"
    return f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY src, dst
    ),
    edges AS (SELECT src, dst FROM pairs),
    nodes AS (SELECT DISTINCT src AS part FROM edges),
    n_nodes AS (SELECT COUNT(*) AS cnt FROM nodes),
    degrees AS (SELECT src AS part, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT part, 1.0 / (SELECT cnt FROM n_nodes) AS rank FROM nodes),
    {",".join(iters)}
    SELECT part AS l_partkey, ROUND(rank * 1000000, 4) AS rank_ppm
    FROM {prev}
    ORDER BY rank_ppm DESC, l_partkey
    LIMIT 25
    """


@query("part_copurchase_pagerank", oracle=_pagerank_oracle())
def q_part_copurchase_pagerank(spark, t):
    """PageRank over the part co-purchase graph (edges = parts bought
    together in an order, both directions): 3 damped power iterations,
    top 25 parts by rank — the iterative-algorithm shape (like the
    dedup connected components) expressed as a driver-side loop of
    distributed joins, scored against a fully unrolled SQL oracle.

    Scale shape: the edge list shuffles once to build out-degrees;
    each iteration is one join of the current rank vector (node-sized,
    tiny next to edges) against the edge list plus a groupBy on dst —
    the standard Pregel-on-DataFrames realization. Every part that
    shares an order has out-degree >= 1, so no dangling-mass term is
    needed. Ranks are scaled to parts-per-million before rounding so
    the 4-decimal comparison keeps real precision. The loop-invariant
    frames (edges, nodes, degrees) are pinned: without the cache,
    the n_nodes count plus every iteration would re-derive the
    basket pair unfold from lineage (VERDICT r5 — 39 shuffles, the
    corpus max). Edge build is the orderkey self-join (r12 REVERT of
    the r11 basket-collect rewrite, VERDICT-r11 task 8): the r11
    same-session A/B favored the collect unfold at sf0.1 (1.81s vs
    2.04s medians) but the driver's official record showed 0.84x and
    the r12 re-A/B at the tiled sf0.5 (docs/AB_RECORDS.md, "pagerank
    edge build"; interleaved, 4 reps) INVERTED it — collect 4.05s vs join 3.44s
    medians (sf0.1: collect 2.32 vs join 2.71) — so the join form is
    the 100 TB choice. Contrast copurchase_triangle_census, whose
    wedge-collect re-A/B reproduced at BOTH SFs and stays.
    """
    op = t["lineitem"].select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    edges = pin(
        a.join(b, "k")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    nodes = pin(edges.select(F.col("src").alias("part")).distinct())
    n_nodes = nodes.count()  # scalar: graph node count (drives the teleport term)
    degrees = pin(edges.groupBy("src").agg(F.count("*").alias("deg")))
    ranks = nodes.select("part", F.lit(1.0 / n_nodes).alias("rank"))
    teleport = (1 - PAGERANK_DAMPING) / n_nodes
    for _ in range(PAGERANK_ITERS):
        contribs = (
            edges.join(ranks, edges.src == ranks.part)
            .join(degrees, "src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("contrib"))
        )
        ranks = (
            nodes.join(
                contribs.groupBy("dst").agg(F.sum("contrib").alias("mass")),
                nodes.part == F.col("dst"),
                "left",
            )
            .select(
                "part",
                (
                    F.lit(teleport)
                    + F.lit(PAGERANK_DAMPING) * F.coalesce("mass", F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select(
        F.col("part").alias("l_partkey"),
        F.round(F.col("rank") * 1000000, 4).alias("rank_ppm"),
    ).orderBy(F.desc("rank_ppm"), "l_partkey").limit(25)


@query(
    "segment_event_revenue",
    oracle="""
    SELECT c.c_mktsegment,
           ROUND(SUM(e.value), 2) AS revenue,
           COUNT(*) AS purchase_cnt
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.event_type = 'purchase'
    GROUP BY c.c_mktsegment
    """,
)
def q_segment_event_revenue(spark, t):
    """Purchase revenue per customer market segment: the batch twin of
    streaming.streams.segment_revenue_stream (stream-static broadcast
    enrich + aggregate). Events carry user ids that live in the
    customer key space; the dimension broadcasts, the purchase filter
    pushes into the scan, and the rollup is one small shuffle."""
    return (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
            F.col("user_id") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("value"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("purchase_cnt"),
        )
    )


@query(
    "daily_conversion_rates",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
        FROM events GROUP BY day
    )
    SELECT day, views, clicks, purchases,
           ROUND(clicks * 100.0 / NULLIF(views, 0), 4) AS click_rate_pct,
           ROUND(purchases * 100.0 / NULLIF(views, 0), 4) AS purchase_rate_pct
    FROM daily
    """,
)
def q_daily_conversion_rates(spark, t):
    """Daily conversion-rate mart — the reference README's
    gold_conversion_rates (README.md:83) materialized per day: stage
    counts from one conditional-aggregate pass and view->click /
    view->purchase percentages. Map-side day bucketing, one shuffle,
    all three counters in a single aggregation (no per-stage scans);
    NULL (not a crash, not a zero) when a day has no views."""
    cnt = lambda s: F.sum(F.when(F.col("event_type") == s, 1).otherwise(0))
    daily = (
        t["events"]
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            cnt("view").alias("views"),
            cnt("click").alias("clicks"),
            cnt("purchase").alias("purchases"),
        )
    )
    return daily.select(
        "day",
        "views",
        "clicks",
        "purchases",
        F.round(
            F.col("clicks") * 100.0 / F.nullif(F.col("views"), F.lit(0)), 4
        ).alias("click_rate_pct"),
        F.round(
            F.col("purchases") * 100.0 / F.nullif(F.col("views"), F.lit(0)), 4
        ).alias("purchase_rate_pct"),
    )


@query(
    "order_value_quantile_bands",
    oracle="""
    SELECT c.c_mktsegment,
           ROUND(percentile_disc(0.25) WITHIN GROUP (ORDER BY o.o_totalprice), 2) AS p25,
           ROUND(percentile_disc(0.50) WITHIN GROUP (ORDER BY o.o_totalprice), 2) AS p50,
           ROUND(percentile_disc(0.75) WITHIN GROUP (ORDER BY o.o_totalprice), 2) AS p75,
           ROUND(percentile_disc(0.90) WITHIN GROUP (ORDER BY o.o_totalprice), 2) AS p90
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_order_value_quantile_bands(spark, t):
    """Exact multi-quantile bands (p25/p50/p75/p90 of order value) per
    market segment — the G10 exact-median semantics generalized to a
    quantile vector. DISCRETE quantiles (smallest value at or above
    the requested rank) rather than continuous: interpolated midpoints
    differ between engines in the last float bit, which a 2-decimal
    round can surface as a one-cent mismatch — discrete quantiles are
    actual data values, bit-identical everywhere. Customer broadcast-
    enriches orders before the rollup. Exact percentiles shuffle group
    values by design — percentile_approx (KLL) is the 100 TB default
    and approx_distinct_contract shows the contract pattern for it."""
    base = t["orders"].join(
        F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    pd_ = lambda p: F.expr(
        f"percentile_disc({p}) WITHIN GROUP (ORDER BY o_totalprice)"
    )
    return base.groupBy("c_mktsegment").agg(
        F.round(pd_(0.25), 2).alias("p25"),
        F.round(pd_(0.50), 2).alias("p50"),
        F.round(pd_(0.75), 2).alias("p75"),
        F.round(pd_(0.90), 2).alias("p90"),
    )


@query(
    "referential_integrity_audit",
    oracle="""
    SELECT 'lineitem_without_order' AS check_name,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS violation_cnt
    UNION ALL
    SELECT 'order_without_lineitem',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                              WHERE l.l_orderkey = o.o_orderkey))
    UNION ALL
    SELECT 'order_without_customer',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'event_user_without_customer',
           (SELECT COUNT(*) FROM events e
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = e.user_id))
    """,
)
def q_referential_integrity_audit(spark, t):
    """Referential-integrity audit: orphan counts across every FK edge
    of the star schema (fact->dim and fact->fact both directions where
    meaningful) — the automated form of the reference's FK dropna
    hygiene (ecom_Gold_Layer.ipynb:128-133), reported instead of
    silently dropped. Each check is a left_anti join (key columns
    only, dims broadcast) reduced to one counter; the four checks
    union into a tidy audit table."""
    def orphans(name, left, left_key, right, right_key):
        cnt = (
            left.select(left_key)
            .join(
                right.select(right_key),
                F.col(left_key) == F.col(right_key),
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("violation_cnt"))
        )
        return cnt.select(F.lit(name).alias("check_name"), "violation_cnt")

    checks = [
        orphans("lineitem_without_order", t["lineitem"], "l_orderkey",
                t["orders"], "o_orderkey"),
        orphans("order_without_lineitem", t["orders"], "o_orderkey",
                t["lineitem"], "l_orderkey"),
        orphans("order_without_customer", t["orders"], "o_custkey",
                t["customer"], "c_custkey"),
        orphans("event_user_without_customer", t["events"], "user_id",
                t["customer"], "c_custkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


@query(
    "weekly_active_users",
    oracle="""
    WITH bounds AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
        FROM events
    ),
    cal AS (
        -- portable series: constant-bound range TVF + scalar-subquery
        -- filter (both engines reject subqueries INSIDE TVF args);
        -- 100000 days ~ 274 years, far past any order/event horizon
        SELECT CAST((SELECT d0 FROM bounds) + i * INTERVAL 1 DAY AS DATE)
               AS day
        FROM range(0, 100000) t(i)
        WHERE i <= (SELECT CAST(d1 - d0 AS BIGINT) FROM bounds)
    ),
    act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT c.day, COUNT(DISTINCT a.user_id) AS wau
    FROM cal c
    LEFT JOIN act a ON a.day BETWEEN c.day - INTERVAL 6 DAY AND c.day
    GROUP BY c.day
    """,
)
def q_weekly_active_users(spark, t):
    """Trailing 7-day distinct active users per calendar day (WAU) —
    rolling DISTINCT, which no window frame can express (frames
    aggregate values, not sets).

    Scale shape: instead of a range join of every day against every
    activity row (non-equi — nested loop), each distinct (user, day)
    activity row EXPLODES into the <=7 spine days it contributes to,
    turning the rolling set union into a plain equi groupBy distinct —
    shuffle volume is 7x the daily-distinct relation, independent of
    window length in time units. The calendar spine re-attaches
    zero-activity days.
    """
    ev = t["events"]
    act = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    contrib = act.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), 6), F.expr("INTERVAL 1 DAY")
            )
        ).alias("spine_day"),
    )
    per_day = contrib.groupBy("spine_day").agg(
        F.count_distinct("user_id").alias("wau")
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    return cal.join(
        per_day, cal.day == per_day.spine_day, "left"
    ).select("day", F.coalesce("wau", F.lit(0)).alias("wau"))


@query(
    "funnel_by_segment",
    oracle="""
    WITH stages(stage_order, event_type) AS (
        VALUES (1, 'view'), (2, 'click'), (3, 'signup'), (4, 'purchase')
    ),
    segs AS (SELECT DISTINCT c_mktsegment FROM customer),
    counts AS (
        SELECT c.c_mktsegment, e.event_type, COUNT(*) AS cnt
        FROM events e
        JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY c.c_mktsegment, e.event_type
    )
    SELECT s.c_mktsegment,
           st.stage_order,
           st.event_type,
           COALESCE(x.cnt, 0) AS cnt,
           ROUND(COALESCE(x.cnt, 0) * 100.0
                 / NULLIF(FIRST_VALUE(COALESCE(x.cnt, 0)) OVER (
                       PARTITION BY s.c_mktsegment ORDER BY st.stage_order), 0),
                 4) AS conversion_pct
    FROM segs s
    CROSS JOIN stages st
    LEFT JOIN counts x
      ON x.c_mktsegment = s.c_mktsegment AND x.event_type = st.event_type
    """,
)
def q_funnel_by_segment(spark, t):
    """The flagship funnel cut by customer market segment — the
    dashboard's per-dimension drill-down (app.py tab filters) done
    properly: one enrich join (customer broadcast), one (segment,
    stage) count shuffle, then stage alignment against the literal
    stage frame per segment and conversion relative to each segment's
    view count. The alignment cross join is |segments| x 4 rows —
    constant-size driver-free scaffolding, exactly like the global
    funnel's stage frame."""
    stages = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(["view", "click", "signup", "purchase"])],
        ["stage_order", "event_type"],
    )
    segs = t["customer"].select("c_mktsegment").distinct()
    counts = (
        t["events"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
            F.col("user_id") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    aligned = (
        segs.crossJoin(F.broadcast(stages))
        .join(counts, ["c_mktsegment", "event_type"], "left")
        .select(
            "c_mktsegment",
            "stage_order",
            "event_type",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("c_mktsegment").orderBy("stage_order")
    return aligned.select(
        "c_mktsegment",
        "stage_order",
        "event_type",
        "cnt",
        F.round(
            F.col("cnt") * 100.0
            / F.nullif(F.first("cnt").over(w), F.lit(0)),
            4,
        ).alias("conversion_pct"),
    )


@query(
    "snapshot_diff_reconciliation",
    oracle="""
    WITH old AS (
        SELECT o_orderkey AS k,
               md5(o_orderstatus || '|' || CAST(ROUND(o_totalprice, 2) AS STRING))
                   AS row_hash
        FROM orders
    ),
    new AS (
        SELECT o_orderkey AS k,
               md5(CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                        ELSE o_orderstatus END
                   || '|' ||
                   CAST(ROUND(o_totalprice, 2) AS STRING)) AS row_hash
        FROM orders WHERE o_orderkey % 11 <> 0
    )
    SELECT change_type, CAST(cnt AS BIGINT) AS cnt FROM (
        SELECT 'deleted' AS change_type, COUNT(*) AS cnt
        FROM old LEFT JOIN new USING (k) WHERE new.k IS NULL
        UNION ALL
        SELECT 'changed', COUNT(*)
        FROM old JOIN new USING (k)
        WHERE old.row_hash <> new.row_hash
        UNION ALL
        SELECT 'unchanged', COUNT(*)
        FROM old JOIN new USING (k)
        WHERE old.row_hash = new.row_hash
    ) t
    """,
)
def q_snapshot_diff_reconciliation(spark, t):
    """Snapshot reconciliation (CDC-style table diff): compare two
    table versions by key + row hash and count deleted / changed /
    unchanged rows — the audit that backs the SCD2 merge and any
    incremental load (here the 'new' snapshot is a deterministic
    mutation of orders: every 11th key deleted, every 7th status
    changed). One full-outer-shaped key join carrying only (key,
    32-char hash); the hash is computed map-side on each snapshot's
    scan, so the diff never moves attribute data."""
    def hashed(df, status_col):
        return df.select(
            F.col("o_orderkey").alias("k"),
            F.md5(
                F.concat_ws(
                    "|",
                    status_col,
                    F.round(F.col("o_totalprice"), 2).cast("string"),
                )
            ).alias("row_hash"),
        )

    old = hashed(t["orders"], F.col("o_orderstatus"))
    new = hashed(
        t["orders"].filter(F.col("o_orderkey") % 11 != 0),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    joined = old.join(
        new.withColumnRenamed("row_hash", "new_hash").withColumnRenamed("k", "nk"),
        F.col("k") == F.col("nk"),
        "left",
    )
    counts = joined.agg(
        F.sum(F.when(F.col("nk").isNull(), 1).otherwise(0)).alias("deleted"),
        F.sum(
            F.when(
                F.col("nk").isNotNull() & (F.col("row_hash") != F.col("new_hash")), 1
            ).otherwise(0)
        ).alias("changed"),
        F.sum(
            F.when(
                F.col("nk").isNotNull() & (F.col("row_hash") == F.col("new_hash")), 1
            ).otherwise(0)
        ).alias("unchanged"),
    )
    return counts.select(
        F.explode(
            F.array(
                F.struct(F.lit("deleted").alias("change_type"), F.col("deleted").alias("cnt")),
                F.struct(F.lit("changed").alias("change_type"), F.col("changed").alias("cnt")),
                F.struct(F.lit("unchanged").alias("change_type"), F.col("unchanged").alias("cnt")),
            )
        ).alias("c")
    ).select("c.change_type", "c.cnt")


@query(
    "winsorized_order_values",
    oracle="""
    WITH cuts AS (
        SELECT c.c_mktsegment AS seg,
               percentile_disc(0.01) WITHIN GROUP (ORDER BY o.o_totalprice) AS lo,
               percentile_disc(0.99) WITHIN GROUP (ORDER BY o.o_totalprice) AS hi
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY seg
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o.o_totalprice < t.lo
                         OR o.o_totalprice > t.hi THEN 1 ELSE 0 END) AS BIGINT)
               AS clipped_cnt,
           ROUND(SUM(LEAST(GREATEST(o.o_totalprice, t.lo), t.hi)), 2)
               AS winsorized_sum,
           ROUND(SUM(o.o_totalprice), 2) AS raw_sum
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN cuts t ON t.seg = c.c_mktsegment
    GROUP BY c.c_mktsegment
    """,
)
def q_winsorized_order_values(spark, t):
    """Winsorization (robust-statistics cleansing): clip order values
    to each segment's [p01, p99] band and report clipped counts plus
    winsorized vs raw sums — the outlier treatment the reference's
    median-imputation policy (F20) belongs to, done per group.

    Scale shape: cut points come from ONE exact-quantile aggregate per
    segment (discrete quantiles — engine-exact data values, no
    interpolation), broadcast back onto the fact rows; the clip is
    map-side LEAST/GREATEST codegen and the rollup is one shuffle."""
    base = t["orders"].join(
        F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    pd_ = lambda p: F.expr(
        f"percentile_disc({p}) WITHIN GROUP (ORDER BY o_totalprice)"
    )
    cuts = base.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        pd_(0.01).alias("lo"), pd_(0.99).alias("hi")
    )
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    out_of_band = (F.col("o_totalprice") < F.col("lo")) | (
        F.col("o_totalprice") > F.col("hi")
    )
    return (
        base.join(F.broadcast(cuts), F.col("c_mktsegment") == F.col("seg"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(out_of_band, 1).otherwise(0)).alias("clipped_cnt"),
            F.round(F.sum(clipped), 2).alias("winsorized_sum"),
            F.round(F.sum("o_totalprice"), 2).alias("raw_sum"),
        )
    )


@query(
    "supplier_scorecard",
    oracle="""
    SELECT s.s_name,
           n.n_name,
           COUNT(*) AS n_lines,
           COUNT(DISTINCT l.l_partkey) AS distinct_parts,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           ROUND(100.0 * SUM(CASE WHEN l.l_shipdate <= o.o_orderdate
                                       + INTERVAL 30 DAY
                                  THEN 1 ELSE 0 END) / COUNT(*), 4)
               AS on_time_pct
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY s.s_name, n.n_name
    ORDER BY revenue DESC, s.s_name
    LIMIT 25
    """,
)
def q_supplier_scorecard(spark, t):
    """Supplier scorecard mart: volume, assortment breadth, revenue,
    and on-time-ship rate (<=30 days after order) per supplier — the
    seller-performance dashboard the reference models with dim_sellers
    (SURVEY §1.1), computed from facts instead of stored attributes.
    One fact-fact shuffle (lineitem x orders on orderkey) with
    supplier/nation broadcast; all four measures including the
    distinct-part count come from a single aggregation pass; top-25 is
    TakeOrderedAndProject."""
    supp = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    on_time = F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    return (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey", "l_partkey", "l_extendedprice",
                "l_discount", "l_shipdate")
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name", "n_name")
        .agg(
            F.count("*").alias("n_lines"),
            F.count_distinct("l_partkey").alias("distinct_parts"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.round(
                F.lit(100.0)
                * F.sum(F.when(on_time, 1).otherwise(0))
                / F.count("*"),
                4,
            ).alias("on_time_pct"),
        )
        .orderBy(F.desc("revenue"), "s_name")
        .limit(25)
    )


@query(
    "cart_abandonment_daily",
    oracle="""
    WITH flags AS (
        SELECT user_id, ts, event_type,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         < INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS new_sess
        FROM events
    ),
    sess AS (
        SELECT user_id, ts, event_type,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flags
    ),
    per_sess AS (
        SELECT user_id, sid,
               CAST(MIN(ts) AS DATE) AS day,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
        FROM sess GROUP BY user_id, sid
    )
    SELECT day,
           COUNT(*) AS n_sessions,
           CAST(SUM(has_click) AS BIGINT) AS clicked_sessions,
           CAST(SUM(CASE WHEN has_click = 1 AND has_purchase = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS abandoned_sessions,
           ROUND(SUM(CASE WHEN has_click = 1 AND has_purchase = 0
                          THEN 1 ELSE 0 END) * 100.0
                 / NULLIF(SUM(has_click), 0), 4) AS abandonment_pct
    FROM per_sess
    GROUP BY day
    """,
)
def q_cart_abandonment_daily(spark, t):
    """Cart abandonment per day: 30-minute-gap sessions that contain a
    click but no purchase, as a share of clicked sessions — the
    e-commerce health metric the reference's funnel approximates
    globally, computed at true session grain.

    Spark side uses the NATIVE session_window aggregate (one shuffle
    on user_id with merging session state — exactly the streaming-
    ready form; the oracle rewrites the same gap semantics with
    lag/cumsum islands, an equivalence the session_windows query
    already pins). Session flags are MAX(CASE) inside the same
    aggregation; the daily rollup is a second small shuffle.
    """
    flag = lambda s: F.max(
        F.when(F.col("event_type") == s, 1).otherwise(0)
    )
    sess = (
        t["events"]
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(flag("click").alias("has_click"), flag("purchase").alias("has_purchase"))
    )
    abandoned = (F.col("has_click") == 1) & (F.col("has_purchase") == 0)
    return (
        sess.groupBy(F.to_date(F.col("w.start")).alias("day"))
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("has_click").alias("clicked_sessions"),
            F.sum(F.when(abandoned, 1).otherwise(0)).alias("abandoned_sessions"),
            F.round(
                F.sum(F.when(abandoned, 1).otherwise(0)) * 100.0
                / F.nullif(F.sum("has_click"), F.lit(0)),
                4,
            ).alias("abandonment_pct"),
        )
    )


@query(
    "discount_quantity_stats",
    oracle="""
    SELECT p.p_type,
           COUNT(*) AS n_lines,
           ROUND(corr(l.l_discount, l.l_quantity), 4) AS disc_qty_corr,
           ROUND(covar_samp(l.l_discount, l.l_quantity), 4) AS disc_qty_covar,
           ROUND(stddev_samp(l.l_quantity), 4) AS qty_stddev,
           ROUND(regr_slope(l.l_quantity, l.l_discount), 4) AS qty_per_discount
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_type
    ORDER BY p.p_type
    """,
)
def q_discount_quantity_stats(spark, t):
    """Statistical aggregates (the price-elasticity screening pass):
    correlation, sample covariance, stddev, and the regression slope
    of quantity on discount per part type. All five statistics are
    single-pass mergeable moment aggregates (sum, sum-of-squares,
    cross-products) — the same partial+final HashAggregate shape as a
    plain SUM, no second scan, no window. Part broadcast-enriches the
    fact; 4-decimal rounding sits far above cross-engine float-sum
    noise on these O(1)-magnitude statistics."""
    return (
        t["lineitem"]
        .select("l_partkey", "l_discount", "l_quantity")
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.corr("l_discount", "l_quantity"), 4).alias("disc_qty_corr"),
            F.round(F.covar_samp("l_discount", "l_quantity"), 4).alias(
                "disc_qty_covar"
            ),
            F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
            F.round(
                F.expr("regr_slope(l_quantity, l_discount)"), 4
            ).alias("qty_per_discount"),
        )
        .orderBy("p_type")
    )
