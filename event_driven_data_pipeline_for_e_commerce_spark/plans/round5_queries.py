"""Round-5 corpus additions: window-function breadth (ntile bands,
rank stability), robust-statistics audits (z-score, IQR, variance
decomposition), calendar-profile analytics, and LLM-pipeline quality
follow-ons (shingle skew, cluster-size histogram, IVF balance,
k-means inertia, quantization error).

Every query is oracle-paired (ANSI-leaning DuckDB SQL) and keeps the
corpus parity rules: money in integer cents, shares in integer basis
points via floor division, float expressions in one explicit
evaluation order on both engines, windows partitioned (or on the
documented bounded-grain allowlist).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..functions.money import L_CENTS, O_CENTS, cents
from .corpus import query


# --------------------------------------------------------------------------
# Window-function breadth
# --------------------------------------------------------------------------

@query(
    "customer_spend_quartile_bands",
    oracle=f"""
    WITH spend AS (
        SELECT c.c_mktsegment AS segment, c.c_custkey,
               CAST(SUM({O_CENTS}) AS BIGINT) AS spend_cents
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    banded AS (
        SELECT segment, spend_cents,
               NTILE(4) OVER (PARTITION BY segment
                              ORDER BY spend_cents, c_custkey) AS quartile
        FROM spend
    )
    SELECT segment, quartile,
           COUNT(*) AS n_customers,
           MIN(spend_cents) AS min_cents,
           MAX(spend_cents) AS max_cents
    FROM banded GROUP BY segment, quartile
    """,
)
def q_customer_spend_quartile_bands(spark, t):
    """NTILE spend bands per market segment — the windowed
    quartile-banding the reference's customer-value tab approximates
    with pandas qcut (app.py value-segment family).

    Scale shape: the window partitions by segment (bounded
    cardinality, each partition shuffle-parallel per segment at the
    sort), total order inside via the (spend, custkey) tie-break so
    NTILE is deterministic on both engines; output is
    segments × 4 rows."""
    spend = (
        t["customer"]
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"), "c_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("spend_cents"))
    )
    w = Window.partitionBy("segment").orderBy("spend_cents", "c_custkey")
    return (
        spend.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("segment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("spend_cents").alias("min_cents"),
            F.max("spend_cents").alias("max_cents"),
        )
    )


@query(
    "nation_revenue_rank_stability",
    oracle=f"""
    WITH rev AS (
        SELECT c.c_nationkey AS nationkey,
               EXTRACT(YEAR FROM o.o_orderdate) AS yr,
               CAST(SUM({O_CENTS}) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT nationkey, yr,
               RANK() OVER (PARTITION BY yr ORDER BY cents DESC, nationkey)
                   AS rnk
        FROM rev
    ),
    a AS (SELECT nationkey, rnk FROM ranked
          WHERE yr = (SELECT MIN(yr) FROM rev)),
    b AS (SELECT nationkey, rnk FROM ranked
          WHERE yr = (SELECT MAX(yr) FROM rev))
    SELECT a.nationkey,
           a.rnk AS rank_first_year,
           b.rnk AS rank_last_year,
           ABS(a.rnk - b.rnk) AS rank_shift
    FROM a JOIN b ON b.nationkey = a.nationkey
    """,
)
def q_nation_revenue_rank_stability(spark, t):
    """League-table stability: each nation's revenue rank in the first
    vs last order year and the absolute shift — the rank-churn measure
    behind 'did the market order change'.

    Scale shape: one groupBy to nation × year grain (bounded), ranks
    windowed PARTITION BY yr, first/last year picked by scalar min/max
    subqueries (broadcast), self-join on the 25-row nation grain."""
    rev = (
        t["orders"]
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    w = Window.partitionBy("yr").orderBy(F.desc("cents"), F.asc("nationkey"))
    ranked = rev.withColumn("rnk", F.rank().over(w))
    years = rev.agg(
        F.min("yr").alias("y0"), F.max("yr").alias("y1")
    ).collect()[0]
    a = ranked.filter(F.col("yr") == years["y0"]).select(
        "nationkey", F.col("rnk").alias("rank_first_year")
    )
    b = ranked.filter(F.col("yr") == years["y1"]).select(
        F.col("nationkey").alias("nk_b"), F.col("rnk").alias("rank_last_year")
    )
    return (
        a.join(b, F.col("nationkey") == F.col("nk_b"))
        .select(
            "nationkey",
            "rank_first_year",
            "rank_last_year",
            F.abs(
                F.col("rank_first_year") - F.col("rank_last_year")
            ).alias("rank_shift"),
        )
    )


@query(
    "weekly_revenue_wow_delta",
    oracle=f"""
    WITH weekly AS (
        SELECT CAST(DATE_TRUNC('week', o_orderdate) AS DATE) AS week,
               CAST(SUM({O_CENTS}) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    )
    SELECT w.week, w.cents,
           p.cents AS prev_cents,
           -- truncating division in a form BOTH engines parse AND both
           -- compute identically: *, /, FLOOR, SIGN are correctly-rounded
           -- IEEE double ops, so this expression is bit-identical across
           -- engines at ANY magnitude (the Spark side evaluates the SAME
           -- double expression — ADVICE r6: integer DIV on one side vs
           -- double FLOOR on the other could differ by 1 bp once
           -- |delta|*10000 exceeds 2^53)
           CAST(SIGN(w.cents - p.cents)
                * FLOOR(ABS(w.cents - p.cents) * 10000.0 / p.cents)
                AS BIGINT) AS wow_delta_bp
    FROM weekly w
    JOIN weekly p ON p.week = w.week - INTERVAL 7 DAY
    """,
)
def q_weekly_revenue_wow_delta(spark, t):
    """Week-over-week revenue delta in basis points — the trend pulse
    of the reference dashboard's revenue tab, computed WITHOUT a
    global-order window: each week equi-joins its predecessor (week -
    7 days), so the plan is a bounded self-join on the calendar grain
    that stays shuffle-parallel at any history length (a LAG over an
    unpartitioned calendar would be the single-task shape the corpus
    bans). Integer cents; the basis-point column is the SAME
    SIGN*FLOOR double expression on both engines (bit-identical IEEE
    arithmetic at any magnitude — see the oracle comment), also
    immune to the BIGINT overflow a d*10000 integer form would hit
    at extreme deltas."""
    weekly = (
        t["orders"]
        .groupBy(F.date_trunc("week", "o_orderdate").cast("date").alias("week"))
        .agg(F.sum(cents("o_totalprice")).alias("cents"))
    )
    prev = weekly.select(
        F.col("week").alias("prev_week"), F.col("cents").alias("prev_cents")
    )
    return (
        weekly.join(
            prev, F.col("prev_week") == F.date_sub(F.col("week"), 7)
        )
        .select(
            "week",
            "cents",
            "prev_cents",
            F.expr(
                "CAST(SIGN(cents - prev_cents)"
                " * FLOOR(ABS(cents - prev_cents) * 10000.0 / prev_cents)"
                " AS BIGINT)"
            ).alias("wow_delta_bp"),
        )
    )


# --------------------------------------------------------------------------
# Robust statistics / quality audits
# --------------------------------------------------------------------------

@query(
    "orders_price_zscore_outliers",
    oracle=f"""
    WITH stats AS (
        SELECT o_orderpriority AS priority,
               COUNT(*) AS n,
               SUM({O_CENTS}) AS s1,
               SUM(CAST({O_CENTS} AS DECIMAL(38, 0)) * {O_CENTS}) AS s2
        FROM orders GROUP BY 1
    ),
    scored AS (
        SELECT o.o_orderkey, s.priority,
               ({O_CENTS} - s.s1 / CAST(s.n AS DOUBLE))
               / sqrt(CAST(s.s2 AS DOUBLE) / s.n
                      - (s.s1 / CAST(s.n AS DOUBLE))
                        * (s.s1 / CAST(s.n AS DOUBLE))) AS z
        FROM orders o JOIN stats s ON s.priority = o.o_orderpriority
    )
    SELECT o_orderkey, priority, ROUND(z, 3) AS zscore
    FROM scored
    ORDER BY ABS(z) DESC, o_orderkey
    LIMIT 20
    """,
)
def q_orders_price_zscore_outliers(spark, t):
    """Per-priority z-score anomaly triage (top-20 by |z|) — the defensive
    anomaly screen of the Silver cleanse family, computed from EXACT
    moment sums: counts and cent-sums are BIGINT, the sum of squares
    is DECIMAL(38,0) (no 2^63 overflow at any scale, no float partial-
    merge nondeterminism), and the float mean/std derivation happens
    once per group in one expression order on both engines.

    Scale shape: one partial-aggregated groupBy to the 5-row priority
    grain, broadcast back over the fact scan — two passes, no window,
    no skew sensitivity."""
    amt = cents("o_totalprice")
    stats = (
        t["orders"]
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(amt).alias("s1"),
            F.sum(
                amt.cast("decimal(38,0)") * amt
            ).alias("s2"),
        )
    )
    scored = (
        t["orders"]
        .join(
            F.broadcast(stats),
            F.col("priority") == F.col("o_orderpriority"),
        )
        .withColumn(
            "z",
            (
                amt - F.col("s1") / F.col("n").cast("double")
            )
            / F.sqrt(
                F.col("s2").cast("double") / F.col("n")
                - (F.col("s1") / F.col("n").cast("double"))
                * (F.col("s1") / F.col("n").cast("double"))
            ),
        )
    )
    return (
        scored.orderBy(F.abs(F.col("z")).desc(), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "priority", F.round("z", 3).alias("zscore"))
    )


@query(
    "brand_price_iqr_outliers",
    oracle="""
    WITH q AS (
        SELECT p_brand,
               percentile_cont(0.25) WITHIN GROUP (ORDER BY p_retailprice) AS q1,
               percentile_cont(0.75) WITHIN GROUP (ORDER BY p_retailprice) AS q3
        FROM part GROUP BY p_brand
    )
    SELECT p.p_brand,
           ROUND(q.q1, 4) AS q1,
           ROUND(q.q3, 4) AS q3,
           COUNT(*) FILTER (
               WHERE p.p_retailprice > q.q3 + 1.5 * (q.q3 - q.q1)
                  OR p.p_retailprice < q.q1 - 1.5 * (q.q3 - q.q1)
           ) AS n_outliers,
           COUNT(*) AS n_parts
    FROM part p JOIN q ON q.p_brand = p.p_brand
    GROUP BY p.p_brand, q.q1, q.q3
    """,
)
def q_brand_price_iqr_outliers(spark, t):
    """Tukey-fence (1.5×IQR) price outliers per brand — the robust
    alternative to the z-screen above; exact interpolated quartiles
    (Spark `percentile` == DuckDB `quantile_cont`, NOT the approx
    sketch, which would never hash-match).

    Scale shape: exact percentile aggregates per brand (partial-merge
    exact order statistics), 25-row grain broadcast back over the
    dimension scan."""
    q = t["part"].groupBy("p_brand").agg(
        F.percentile("p_retailprice", F.lit(0.25)).alias("q1"),
        F.percentile("p_retailprice", F.lit(0.75)).alias("q3"),
    )
    joined = t["part"].join(
        F.broadcast(q.withColumnRenamed("p_brand", "qb")),
        F.col("qb") == F.col("p_brand"),
    )
    iqr = F.col("q3") - F.col("q1")
    outlier = (F.col("p_retailprice") > F.col("q3") + 1.5 * iqr) | (
        F.col("p_retailprice") < F.col("q1") - 1.5 * iqr
    )
    return (
        joined.groupBy("p_brand", "q1", "q3")
        .agg(
            F.count_if(outlier).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .select(
            "p_brand",
            F.round("q1", 4).alias("q1"),
            F.round("q3", 4).alias("q3"),
            "n_outliers",
            "n_parts",
        )
    )


@query(
    "brand_price_variance_decomposition",
    oracle="""
    WITH c AS (
        SELECT p_brand,
               COUNT(*) AS n,
               SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) AS s1,
               SUM(CAST(CAST(ROUND(p_retailprice * 100) AS BIGINT)
                        AS DECIMAL(38, 0))
                   * CAST(ROUND(p_retailprice * 100) AS BIGINT)) AS s2
        FROM part GROUP BY p_brand
    ),
    tot AS (
        SELECT SUM(n) AS n, SUM(s1) AS s1, SUM(s2) AS s2 FROM c
    ),
    within AS (
        SELECT SUM(CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * s1 / n) AS ss_within
        FROM c
    )
    SELECT CAST(t.n AS BIGINT) AS n_parts,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_brands,
           ROUND((CAST(t.s2 AS DOUBLE) - CAST(t.s1 AS DOUBLE) * t.s1 / t.n)
                 / 10000.0, 2) AS ss_total,
           ROUND(w.ss_within / 10000.0, 2) AS ss_within,
           ROUND(((CAST(t.s2 AS DOUBLE) - CAST(t.s1 AS DOUBLE) * t.s1 / t.n)
                  - w.ss_within) / 10000.0, 2) AS ss_between
    FROM tot t, within w
    """,
)
def q_brand_price_variance_decomposition(spark, t):
    """One-way ANOVA sum-of-squares decomposition of retail price over
    brands (SS_total = SS_within + SS_between) — 'does brand explain
    price'. All moment sums are exact integers (cents in BIGINT,
    squares in DECIMAL(38,0)); the float SS derivation runs once per
    brand and once globally in a fixed expression order, so the
    rounded output is bit-stable across engines and runs.

    Scale shape: one partial-aggregated groupBy to the brand grain,
    then a 25-row re-aggregate — two map-side-combined passes, no
    window, no data motion beyond the brand grain."""
    amt = cents("p_retailprice")
    c = t["part"].groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(amt).alias("s1"),
        F.sum(amt.cast("decimal(38,0)") * amt).alias("s2"),
    )
    tot = c.agg(
        F.sum("n").alias("tn"),
        F.sum("s1").alias("ts1"),
        F.sum("s2").alias("ts2"),
        F.count(F.lit(1)).alias("n_brands"),
        F.sum(
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n")
        ).alias("ss_within_raw"),
    )
    ss_total = (
        F.col("ts2").cast("double")
        - F.col("ts1").cast("double") * F.col("ts1") / F.col("tn")
    )
    return tot.select(
        F.col("tn").alias("n_parts"),
        "n_brands",
        F.round(ss_total / 10000.0, 2).alias("ss_total"),
        F.round(F.col("ss_within_raw") / 10000.0, 2).alias("ss_within"),
        F.round((ss_total - F.col("ss_within_raw")) / 10000.0, 2).alias(
            "ss_between"
        ),
    )


# --------------------------------------------------------------------------
# Calendar / profile analytics
# --------------------------------------------------------------------------

@query(
    "orders_weekday_seasonality",
    oracle=f"""
    WITH d AS (
        SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-05') % 7 AS dow,
               {O_CENTS} AS cents
        FROM orders
    )
    SELECT CAST(dow AS BIGINT) AS dow, COUNT(*) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(SUM(cents) * 10000 // (SELECT SUM(cents) FROM d) AS BIGINT)
               AS share_bp
    FROM d GROUP BY dow
    """,
)
def q_orders_weekday_seasonality(spark, t):
    """Day-of-week order/revenue profile — weekday 0 = Monday via
    epoch-day arithmetic ((date - 1970-01-05) % 7), the ONLY dow
    encoding both engines agree on (DuckDB dayofweek is Sunday=0,
    Spark's Sunday=1). Shares in integer basis points over the exact
    cent total.

    Scale shape: map-side date arithmetic, one combine-heavy groupBy
    to 7 rows, scalar total broadcast into the share division."""
    d = t["orders"].select(
        (
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-05")) % 7
        ).alias("dow"),
        cents("o_totalprice").alias("cents"),
    )
    total = d.agg(F.sum("cents")).collect()[0][0]
    return (
        d.groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cents"),
        )
        .withColumn(
            "share_bp", F.expr(f"cents * 10000 DIV {int(total)}")
        )
    )


@query(
    "event_type_share_by_hour",
    oracle="""
    WITH h AS (
        SELECT EXTRACT(HOUR FROM ts) AS hour, event_type,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT hour, event_type, n,
           CAST(FLOOR(n * 10000 / SUM(n) OVER (PARTITION BY hour)) AS BIGINT)
               AS share_bp
    FROM h
    """,
)
def q_event_type_share_by_hour(spark, t):
    """Event-mix profile by hour of day (the load-shape behind the
    reference's activity heatmap): per-hour type shares in integer
    basis points via a PARTITIONED window sum over the 24×|types|
    grain.

    Scale shape: one groupBy collapses the stream to ≤ 24×types rows
    before the window ever runs — the window's input is the bounded
    aggregate, never the raw events."""
    h = (
        t["events"]
        .groupBy(F.hour("ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("hour")
    return h.select(
        "hour",
        "event_type",
        "n",
        F.expr("n * 10000").cast("long").alias("__num"),
    ).withColumn(
        "share_bp", (F.col("__num") / F.sum("n").over(w)).cast("long")
    ).select("hour", "event_type", "n", "share_bp")


@query(
    "quarter_end_load_share",
    oracle=f"""
    WITH q AS (
        SELECT CAST(DATE_TRUNC('quarter', o_orderdate) AS DATE) AS quarter,
               CASE WHEN CAST(o_orderdate AS DATE)
                        >= CAST(DATE_TRUNC('quarter', o_orderdate)
                                + INTERVAL 3 MONTH AS DATE) - 7
                    THEN 1 ELSE 0 END AS last7,
               {O_CENTS} AS cents
        FROM orders
    )
    SELECT quarter,
           COUNT(*) AS n_orders,
           CAST(SUM(last7) AS BIGINT) AS n_last7,
           CAST(FLOOR(SUM(last7) * 10000 / COUNT(*)) AS BIGINT)
               AS order_share_bp,
           CAST(FLOOR(SUM(CASE WHEN last7 = 1 THEN cents ELSE 0 END) * 10000
                / SUM(cents)) AS BIGINT) AS revenue_share_bp
    FROM q GROUP BY quarter
    """,
)
def q_quarter_end_load_share(spark, t):
    """Quarter-end loading: what share of each quarter's orders and
    revenue lands in the final 7 days — the sales-pull-forward audit.
    Quarter boundaries via date_trunc + 3-month interval on both
    engines; shares in integer basis points.

    Scale shape: map-side flagging, one groupBy to the quarter grain."""
    qstart = F.date_trunc("quarter", "o_orderdate").cast("date")
    qend = F.add_months(qstart, 3)
    q = t["orders"].select(
        qstart.alias("quarter"),
        F.when(
            F.to_date("o_orderdate") >= F.date_sub(qend, 7), 1
        ).otherwise(0).alias("last7"),
        cents("o_totalprice").alias("cents"),
    )
    return (
        q.groupBy("quarter")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("last7").alias("n_last7"),
            F.sum(
                F.when(F.col("last7") == 1, F.col("cents")).otherwise(0)
            ).alias("__l7c"),
            F.sum("cents").alias("__c"),
        )
        .select(
            "quarter",
            "n_orders",
            "n_last7",
            F.expr("n_last7 * 10000 DIV n_orders").alias("order_share_bp"),
            F.expr("__l7c * 10000 DIV __c").alias("revenue_share_bp"),
        )
    )


@query(
    "returned_rate_by_brand",
    oracle=f"""
    SELECT p.p_brand,
           COUNT(*) AS n_lines,
           COUNT(*) FILTER (WHERE l.l_returnflag = 'R') AS n_returned,
           CAST(FLOOR(COUNT(*) FILTER (WHERE l.l_returnflag = 'R') * 10000
                / COUNT(*)) AS BIGINT) AS return_rate_bp,
           CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN {L_CENTS} ELSE 0 END)
                AS BIGINT) AS returned_cents
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    """,
)
def q_returned_rate_by_brand(spark, t):
    """Return rate per brand in integer basis points plus returned
    revenue in exact cents — the product-quality slice of the
    reference's returns analysis (the Q10 family re-cut by dimension).

    Scale shape: fact ⋈ broadcast part dimension, one combine-heavy
    groupBy to the brand grain."""
    ret = F.col("l_returnflag") == "R"
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_if(ret).alias("n_returned"),
            F.sum(
                F.when(ret, cents("l_extendedprice")).otherwise(0)
            ).alias("returned_cents"),
        )
        .select(
            "p_brand",
            "n_lines",
            "n_returned",
            F.expr("n_returned * 10000 DIV n_lines").alias("return_rate_bp"),
            "returned_cents",
        )
    )


# --------------------------------------------------------------------------
# LLM-pipeline quality follow-ons
# --------------------------------------------------------------------------

from .corpus import ORACLES, QUERIES  # noqa: E402
from .llm_queries import _MINHASH_CTES, SHINGLE_N  # noqa: E402

SHINGLE_TOPK = 20


@query(
    "doc_shingle_df_skew",
    oracle=f"""
    WITH {_MINHASH_CTES},
    df AS (SELECT base, COUNT(*) AS df FROM shb GROUP BY base),
    vol AS (
        SELECT CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS total_pairs
        FROM df
    )
    SELECT base, df,
           CAST(df * (df - 1) // 2 AS BIGINT) AS pair_volume,
           CAST(df * (df - 1) // 2 * 10000
                // GREATEST((SELECT total_pairs FROM vol), 1) AS BIGINT)
               AS pair_share_bp
    FROM df
    ORDER BY df DESC, base
    LIMIT {SHINGLE_TOPK}
    """,
)
def q_doc_shingle_df_skew(spark, t):
    """Hot-shingle audit: the top-{SHINGLE_TOPK} shingles by document
    frequency and their share of the all-pairs-per-shingle volume —
    LSH's skew hazard quantified (one boilerplate shingle shared by
    10k docs contributes 50M candidate pairs on its own; this is what
    `lsh_candidate_volume_forecast` pre-flights and `max_bucket`
    caps).

    Scale shape: shingle hashes shuffle as 8-byte ints to a
    df-per-base groupBy; top-k is TakeOrdered (no global window); the
    pair-volume total is one scalar agg broadcast into the share
    division."""
    from ..llmdata.dedup import shingle_hash_frame

    shb = shingle_hash_frame(t["documents"], "text", "doc_id", SHINGLE_N)
    df = shb.groupBy("base").agg(F.count(F.lit(1)).alias("df"))
    vol = df.agg(
        F.sum(F.expr("df * (df - 1) DIV 2")).alias("total_pairs")
    ).collect()[0]["total_pairs"]
    return (
        df.withColumn("pair_volume", F.expr("df * (df - 1) DIV 2"))
        .withColumn(
            "pair_share_bp",
            F.expr(f"pair_volume * 10000 DIV {max(int(vol), 1)}"),
        )
        .orderBy(F.desc("df"), F.asc("base"))
        .limit(SHINGLE_TOPK)
    )


@query(
    "doc_dup_cluster_size_histogram",
    oracle=None,  # composed below from the registered dup-clusters oracle
)
def q_doc_dup_cluster_size_histogram(spark, t):
    """Cluster-size distribution of the near-duplicate graph — the
    dedup capstone metric ('how much of the corpus sits in 2-doc vs
    50-doc duplicate families') that decides keeper policy and
    predicts shrinkage.

    Scale shape: composes the registered connected-components query
    (pointer-jumping CC, log-round loop) and adds two bounded
    aggregations on the cluster grain."""
    clusters = QUERIES["doc_dup_clusters"](spark, t.sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


ORACLES["doc_dup_cluster_size_histogram"] = f"""
    WITH cc AS ({ORACLES["doc_dup_clusters"]}),
    sizes AS (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM cc
        GROUP BY cluster_id
    )
    SELECT cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """


_IVF_BAL_LISTS = 16


@query(
    "emb_ivf_list_balance",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (
        SELECT vec_id AS list_id, v AS cv FROM e ORDER BY vec_id
        LIMIT {_IVF_BAL_LISTS}
    ),
    corpus_rank AS (
        SELECT e.vec_id AS neighbor_id, c.list_id,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cv)
                            / (sqrt(list_dot_product(e.v, e.v))
                               * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                            c.list_id
               ) AS rn
        FROM e, cents c
    ),
    inv AS (SELECT neighbor_id, list_id FROM corpus_rank WHERE rn = 1),
    tot AS (SELECT COUNT(*) AS n FROM inv)
    SELECT list_id,
           COUNT(*) AS n_vecs,
           CAST(COUNT(*) * 10000 // (SELECT n FROM tot) AS BIGINT)
               AS share_bp
    FROM inv GROUP BY list_id
    """,
)
def q_emb_ivf_list_balance(spark, t):
    """IVF inverted-list balance audit: vectors per list and each
    list's share of the corpus in basis points. Skewed lists are the
    ANN equivalent of a hot shuffle key — one overfull list makes
    every probe of it a straggler and starves recall on the rest;
    balanced lists are what make nprobe a predictable cost knob
    (pairs with emb_ivf_nprobe_sweep).

    Scale shape: centroids collected driver-side and inlined as
    literals (broadcast params), assignment a zero-shuffle map-side
    cosine argmax, one groupBy to the list grain."""
    from ..llmdata.similarity import (
        _as_double,
        ivf_centroids,
        nearest_seed_cosine,
    )
    from ..operators.partitioning import ensure_parallelism

    emb = t["embeddings"]
    # centroids collected driver-side (16 tiny vectors) -> zero-shuffle
    # map-side argmax; the former crossJoin + PARTITION BY vec window
    # shuffled corpus×lists rows just to rank 16 candidates per vector
    seeds = [
        (r["list_id"], r["cv"])
        for r in ivf_centroids(emb, _IVF_BAL_LISTS).collect()
    ]
    corpus = ensure_parallelism(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            _as_double("embedding").alias("v"),
        )
    )
    inv = corpus.withColumn(
        "__best", nearest_seed_cosine(F.col("v"), seeds, "list_id")
    ).select("neighbor_id", F.col("__best.list_id").alias("list_id"))
    total = inv.count()
    return (
        inv.groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .withColumn(
            "share_bp", F.expr(f"n_vecs * 10000 DIV {int(total)}")
        )
    )


_KM_K = 8  # mirrors llm_queries.KMEANS_K seeds


@query(
    "emb_kmeans_inertia",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    seeds AS (SELECT vec_id AS cluster_id, v AS cv FROM e
              WHERE vec_id < {_KM_K}),
    d AS (
        SELECT e.vec_id, s.cluster_id,
               list_sum(list_transform(generate_series(1, len(e.v)),
                   i -> (e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i]))) AS d2
        FROM e, seeds s
    ),
    a AS (
        SELECT vec_id, cluster_id, d2
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn
              FROM d)
        WHERE rn = 1
    )
    SELECT cluster_id,
           COUNT(*) AS n_members,
           CAST(SUM(CAST(ROUND(d2 * 1000000) AS BIGINT)) AS BIGINT)
               AS inertia_e6
    FROM a GROUP BY cluster_id
    """,
)
def q_emb_kmeans_inertia(spark, t):
    """k-means quality metric: within-cluster sum of squared distances
    (inertia) per cluster for the deterministic seed assignment that
    emb_kmeans_assign audits — the number a mixing pipeline watches to
    decide k and detect collapsed clusters.

    Parity: each vector's d2 is one left-to-right fold in identical
    element order on both engines, scaled to integer micro-units
    per row (ROUND(d2*1e6)) BEFORE summing, so the per-cluster total
    is an exact BIGINT sum with no float merge-order sensitivity.

    Scale shape: seeds collected driver-side and inlined as literals
    (broadcast params), assignment a zero-shuffle map-side argmin
    (array_min over k (d2, id) structs), one groupBy to the k-row
    grain."""
    from ..llmdata.similarity import nearest_seed_l2
    from ..operators.partitioning import ensure_parallelism

    e = ensure_parallelism(t["embeddings"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # seeds collected driver-side (k tiny vectors) -> map-side argmin;
    # no corpus×k shuffle, no per-vector window (same rewrite as
    # emb_kmeans_assign)
    seeds = [
        (r["vec_id"], r["v"])
        for r in e.filter(F.col("vec_id") < _KM_K).collect()
    ]
    a = e.withColumn("__best", nearest_seed_l2(F.col("v"), seeds))
    return (
        a.select(
            F.col("__best.cluster_id").alias("cluster_id"),
            F.round(F.col("__best.d2") * 1000000).cast("long").alias("t_e6"),
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("t_e6").alias("inertia_e6"),
        )
    )


@query(
    "emb_int8_quant_error_by_label",
    oracle=None,  # composed below from the registered quantize oracle
)
def q_emb_int8_quant_error_by_label(spark, t):
    """Roll-up of the int8 quantization contract to the label grain:
    which embedding families lose the most precision to absmax
    compression. Errors are integer micro-units (the per-vector
    rounded recon_err scaled by 1e6) so the roll-up is an exact
    BIGINT sum and an integer-division mean.

    Scale shape: composes the map-side quantize pass with a broadcast
    label join and one bounded groupBy."""
    quant = QUERIES["emb_int8_quantize"](spark, t.sf_dir)
    labels = t["embeddings"].select("vec_id", "label")
    return (
        quant.join(labels, "vec_id")
        .select(
            "label",
            F.round(F.col("recon_err") * 1000000).cast("long").alias("e6"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("e6").alias("total_err_e6"),
        )
        .withColumn("avg_err_e6", F.expr("total_err_e6 DIV n_vecs"))
    )


ORACLES["emb_int8_quant_error_by_label"] = f"""
    WITH q AS ({ORACLES["emb_int8_quantize"]})
    SELECT e.label,
           COUNT(*) AS n_vecs,
           CAST(SUM(CAST(ROUND(q.recon_err * 1000000) AS BIGINT)) AS BIGINT)
               AS total_err_e6,
           CAST(SUM(CAST(ROUND(q.recon_err * 1000000) AS BIGINT))
                // COUNT(*) AS BIGINT) AS avg_err_e6
    FROM q JOIN embeddings e ON e.vec_id = q.vec_id
    GROUP BY e.label
    """


PREFIX_TOKENS = 8


@query(
    "doc_prefix_dup_rate",
    oracle=rf"""
    WITH p AS (
        SELECT doc_id, source,
               md5(array_to_string(
                   (string_split_regex(lower(trim(text)), '\s+'))[1:{PREFIX_TOKENS}],
                   ' ')) AS prefix_hash
        FROM documents
    ),
    g AS (
        SELECT prefix_hash, COUNT(*) AS grp FROM p GROUP BY prefix_hash
    )
    SELECT p.source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE g.grp > 1) AS n_prefix_dup,
           CAST(COUNT(*) FILTER (WHERE g.grp > 1) * 10000
                // COUNT(*) AS BIGINT) AS dup_rate_bp
    FROM p JOIN g ON g.prefix_hash = p.prefix_hash
    GROUP BY p.source
    """,
)
def q_doc_prefix_dup_rate(spark, t):
    """Prefix-duplication audit: share of documents per source whose
    first {PREFIX_TOKENS} tokens collide with another document — the
    boilerplate-header signal (scraped pages sharing a template open
    identically long before full-text near-dup fires) that decides
    whether a source needs template stripping before dedup.

    Scale shape: the prefix folds to one md5 map-side (text never
    shuffles); group counts shuffle 32-char hashes; the flag joins
    back on the hash (AQE broadcasts the collided-group side at
    typical skew)."""
    prefix = F.md5(
        F.concat_ws(
            " ",
            F.slice(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                1,
                PREFIX_TOKENS,
            ),
        )
    )
    p = t["documents"].select("doc_id", "source", prefix.alias("prefix_hash"))
    g = p.groupBy("prefix_hash").agg(F.count(F.lit(1)).alias("grp"))
    return (
        p.join(g, "prefix_hash")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("grp") > 1).alias("n_prefix_dup"),
        )
        .withColumn(
            "dup_rate_bp", F.expr("n_prefix_dup * 10000 DIV n_docs")
        )
    )


@query(
    "doc_vocab_growth_by_source",
    oracle=r"""
    WITH w AS (
        SELECT source, u.w AS word
        FROM documents,
             UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(w)
        WHERE trim(text) <> ''
    )
    SELECT source,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT word) AS n_types,
           CAST(COUNT(DISTINCT word) * 10000 // COUNT(*) AS BIGINT)
               AS ttr_bp
    FROM w GROUP BY source
    """,
)
def q_doc_vocab_growth_by_source(spark, t):
    """Type/token ratio per source — the vocabulary-richness slice of
    the Heaps-law fit (doc_heaps_law_fit measures growth over corpus
    size; this measures level per source), the quick screen for
    sources that are templated (low TTR) vs diverse (high TTR).

    Scale shape: tokens explode map-side; COUNT(DISTINCT) is the
    two-phase partial-distinct aggregate (no distinct-shuffle of raw
    token rows beyond the hash grain)."""
    from ..operators.partitioning import ensure_parallelism

    w = (
        ensure_parallelism(t["documents"])
        .filter(F.trim("text") != "")
        .select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("word"),
        )
    )
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("word").alias("n_types"),
        )
        .withColumn("ttr_bp", F.expr("n_types * 10000 DIV n_tokens"))
    )


@query(
    "events_dedup_rate_by_day",
    oracle="""
    WITH replayed AS (
        SELECT event_id, ts FROM events
        UNION ALL
        SELECT event_id, ts FROM events WHERE event_id % 10 = 0
    )
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_id) AS n_unique,
           CAST(FLOOR((COUNT(*) - COUNT(DISTINCT event_id)) * 10000
                / COUNT(*)) AS BIGINT) AS dup_rate_bp
    FROM replayed GROUP BY 1
    """,
)
def q_events_dedup_rate_by_day(spark, t):
    """Daily duplicate-delivery audit under an at-least-once replay
    (every 10th event re-delivered, the deterministic twin of the
    streaming event_id_dedup scenario): how much of each day's volume
    is redundant — the batch-side number that sizes the dedup state
    store.

    Scale shape: map-side day bucketing, one partial-distinct
    aggregate per day grain; no joins."""
    ev = t["events"].select("event_id", "ts")
    replayed = ev.unionAll(ev.filter(F.col("event_id") % 10 == 0))
    return (
        replayed.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_unique"),
        )
        .withColumn(
            "dup_rate_bp",
            F.expr("(n_events - n_unique) * 10000 DIV n_events"),
        )
    )


COPURCHASE_MIN_CO = 3
COPURCHASE_TOPK = 50


@query(
    "copurchase_jaccard_similar_parts",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    deg AS (SELECT l_partkey, COUNT(*) AS n FROM op GROUP BY l_partkey),
    co AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_co
        FROM op a JOIN op b
          ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {COPURCHASE_MIN_CO}
    )
    SELECT c.part_a, c.part_b, c.n_co,
           CAST(FLOOR(c.n_co * 10000 / (da.n + db.n - c.n_co)) AS BIGINT)
               AS jaccard_bp
    FROM co c
    JOIN deg da ON da.l_partkey = c.part_a
    JOIN deg db ON db.l_partkey = c.part_b
    ORDER BY jaccard_bp DESC, c.part_a, c.part_b
    LIMIT {COPURCHASE_TOPK}
    """,
)
def q_copurchase_jaccard_similar_parts(spark, t):
    """Item-item similarity by basket Jaccard (co-baskets over union
    of baskets) — the normalized form of basket_part_pairs' raw
    counts, the classic co-purchase recommender primitive. Integer
    basis points; top-{COPURCHASE_TOPK} under a total (jaccard, a, b)
    order.

    Scale shape: candidate pairs ONLY from the within-basket
    self-join (never all part pairs) with the support-{COPURCHASE_MIN_CO}
    HAVING pruning the pair tail; degree frames join on the part
    grain; top-k is TakeOrdered, no global window."""
    op = t["lineitem"].select("l_orderkey", "l_partkey").distinct()
    deg = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    co = (
        a.join(b, ["ok"])
        .filter(F.col("part_b") > F.col("part_a"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= COPURCHASE_MIN_CO)
    )
    da = deg.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("na"))
    db = deg.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("nb"))
    return (
        co.join(da, "part_a")
        .join(db, "part_b")
        .withColumn(
            "jaccard_bp", F.expr("n_co * 10000 DIV (na + nb - n_co)")
        )
        .select("part_a", "part_b", "n_co", "jaccard_bp")
        .orderBy(F.desc("jaccard_bp"), F.asc("part_a"), F.asc("part_b"))
        .limit(COPURCHASE_TOPK)
    )


@query(
    "customer_type_concentration",
    oracle="""
    WITH ct AS (
        SELECT o.o_custkey AS custkey, p.p_type AS ptype, COUNT(*) AS c
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    shares AS (
        SELECT custkey,
               CAST(FLOOR(c * 10000 / SUM(c) OVER (PARTITION BY custkey))
                    AS BIGINT) AS share_bp
        FROM ct
    ),
    per_cust AS (
        SELECT custkey,
               COUNT(*) AS n_types,
               CAST(FLOOR(SUM(share_bp * share_bp) / 10000) AS BIGINT) AS hhi_bp
        FROM shares GROUP BY custkey
    )
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_customers,
           CAST(FLOOR(SUM(p.n_types) * 100 / COUNT(*)) AS BIGINT)
               AS avg_types_e2,
           CAST(MEDIAN(p.hhi_bp) AS DOUBLE) AS median_hhi_bp
    FROM per_cust p JOIN customer c ON c.c_custkey = p.custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_customer_type_concentration(spark, t):
    """Basket concentration per customer (HHI over part types, integer
    basis-point shares) rolled up to segment grain — 'do builders buy
    one thing or everything', the assortment-planning cut of the HHI
    family (part_type_supplier_hhi measures supplier concentration;
    this measures demand concentration).

    Parity: shares are integer floor basis points, HHI an exact
    integer, the segment median an exact order statistic — no float
    sums anywhere.

    Scale shape: fact joins broadcast dims, per-customer shares via a
    window PARTITIONED by customer, two bounded roll-ups."""
    ct = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.col("o_custkey").alias("custkey"), F.col("p_type").alias("ptype")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("custkey")
    share = (F.col("c") * 10000 / F.sum("c").over(w)).cast("long")
    per_cust = (
        ct.withColumn("share_bp", share)
        .groupBy("custkey")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.expr("CAST(SUM(share_bp * share_bp) DIV 10000 AS BIGINT)").alias(
                "hhi_bp"
            ),
        )
    )
    return (
        per_cust.join(
            t["customer"], F.col("c_custkey") == F.col("custkey")
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.expr("CAST(SUM(n_types) * 100 DIV COUNT(*) AS BIGINT)").alias(
                "avg_types_e2"
            ),
            F.median("hhi_bp").alias("median_hhi_bp"),
        )
    )


@query(
    "ship_delay_p95_by_month",
    oracle="""
    WITH d AS (
        SELECT CAST(DATE_TRUNC('month', o.o_orderdate) AS DATE) AS month,
               CAST(CAST(l.l_shipdate AS DATE)
                    - CAST(o.o_orderdate AS DATE) AS BIGINT) AS delay_days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT month,
           COUNT(*) AS n_lines,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY delay_days), 4) AS p50_days,
           ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY delay_days), 4) AS p95_days
    FROM d GROUP BY month
    """,
)
def q_ship_delay_p95_by_month(spark, t):
    """Fulfillment SLA trend: exact p50/p95 order→ship delay per order
    month — the tail-latency view of ship_delay_days (means hide the
    tail; the p95 is what the SLA pages on). Exact interpolated
    percentiles (Spark `percentile` == DuckDB `quantile_cont`) over
    integer day diffs.

    Scale shape: fact-fact equi-join on orderkey, exact percentile
    partial-merge per month grain — no window, no sort of the raw
    frame."""
    d = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
            F.datediff(
                F.to_date("l_shipdate"), F.to_date("o_orderdate")
            ).cast("long").alias("delay_days"),
        )
    )
    return d.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.percentile("delay_days", F.lit(0.5)), 4).alias("p50_days"),
        F.round(F.percentile("delay_days", F.lit(0.95)), 4).alias("p95_days"),
    )


@query(
    "discount_band_margin",
    oracle="""
    WITH b AS (
        SELECT CASE WHEN l_discount < 0.03 THEN 'low'
                    WHEN l_discount < 0.07 THEN 'mid'
                    ELSE 'high' END AS band,
               CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT) AS net_cents,
               CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_e2
        FROM lineitem
    )
    SELECT band,
           COUNT(*) AS n_lines,
           CAST(SUM(net_cents) AS BIGINT) AS net_cents,
           CAST(FLOOR(SUM(qty_e2) / COUNT(*)) AS BIGINT) AS avg_qty_e2
    FROM b GROUP BY band
    """,
)
def q_discount_band_margin(spark, t):
    """Discount-band margin roll-up (low < 3%, mid < 7%, high ≥ 7%):
    net revenue and average quantity per band — the pricing question
    ('do deep discounts buy volume?') in the reference's discount
    analysis family, all integer cents / centi-units.

    Scale shape: map-side banding, one combine-heavy groupBy to 3
    rows."""
    band = (
        F.when(F.col("l_discount") < 0.03, "low")
        .when(F.col("l_discount") < 0.07, "mid")
        .otherwise("high")
    )
    b = t["lineitem"].select(
        band.alias("band"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("net_cents"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty_e2"),
    )
    return (
        b.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("net_cents").alias("net_cents"),
            F.expr("CAST(SUM(qty_e2) DIV COUNT(*) AS BIGINT)").alias(
                "avg_qty_e2"
            ),
        )
    )


NORM_EXTREME_K = 10


@query(
    "emb_norm_extremes",
    oracle=f"""
    WITH n AS (
        SELECT vec_id,
               CAST(ROUND(list_sum(list_transform(
                   CAST(embedding AS DOUBLE[]), x -> x * x)) * 1000000)
                    AS BIGINT) AS norm2_e6
        FROM embeddings
    ),
    lo AS (SELECT 'low' AS extreme, vec_id, norm2_e6 FROM n
           ORDER BY norm2_e6, vec_id LIMIT {NORM_EXTREME_K}),
    hi AS (SELECT 'high' AS extreme, vec_id, norm2_e6 FROM n
           ORDER BY norm2_e6 DESC, vec_id LIMIT {NORM_EXTREME_K})
    SELECT * FROM lo UNION ALL SELECT * FROM hi
    """,
)
def q_emb_norm_extremes(spark, t):
    """Norm-extreme triage: the {NORM_EXTREME_K} smallest- and
    largest-norm vectors — near-zero norms are dead embeddings
    (failed encodes) and giant norms dominate unnormalized dot
    products; both are what an embedding QA pass quarantines first.
    Norms are integer micro-units from one fixed-order fold, so the
    ranking is bit-stable.

    Scale shape: map-side fold per vector, two TakeOrdered top-k
    passes (no global window), 2×{NORM_EXTREME_K}-row output."""
    from ..operators.partitioning import ensure_parallelism

    n2 = F.round(
        F.aggregate(
            F.transform(
                F.col("embedding").cast("array<double>"), lambda x: x * x
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        * 1000000
    ).cast("long")
    n = ensure_parallelism(t["embeddings"]).select(
        "vec_id", n2.alias("norm2_e6")
    )
    lo = (
        n.orderBy(F.asc("norm2_e6"), F.asc("vec_id"))
        .limit(NORM_EXTREME_K)
        .select(F.lit("low").alias("extreme"), "vec_id", "norm2_e6")
    )
    hi = (
        n.orderBy(F.desc("norm2_e6"), F.asc("vec_id"))
        .limit(NORM_EXTREME_K)
        .select(F.lit("high").alias("extreme"), "vec_id", "norm2_e6")
    )
    return lo.unionAll(hi)


@query(
    "doc_lang_source_confusion",
    oracle="""
    WITH c AS (
        SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2
    )
    SELECT source, lang, n,
           CAST(FLOOR(n * 10000 / SUM(n) OVER (PARTITION BY source)) AS BIGINT)
               AS source_share_bp
    FROM c
    """,
)
def q_doc_lang_source_confusion(spark, t):
    """Language × source contingency table with within-source shares —
    the mixing-audit companion to doc_source_mixing (is a source
    monolingual or mixed, which drives per-language routing of the
    cleaning pipeline). Integer basis points via a PARTITIONED window
    over the bounded source×lang grain.

    Scale shape: one groupBy collapses the corpus before the window
    runs; the window input is the contingency grain, never raw docs."""
    c = t["documents"].groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("source")
    return c.withColumn(
        "source_share_bp",
        (F.col("n") * 10000 / F.sum("n").over(w)).cast("long"),
    )


@query(
    "customer_order_span_stats",
    oracle="""
    WITH s AS (
        SELECT o_custkey AS custkey,
               COUNT(*) AS n_orders,
               CAST(CAST(MAX(o_orderdate) AS DATE)
                    - CAST(MIN(o_orderdate) AS DATE) AS BIGINT) AS span_days
        FROM orders GROUP BY 1
    )
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_customers,
           CAST(FLOOR(SUM(s.span_days) * 100.0 / COUNT(*)) AS BIGINT)
               AS avg_span_days_e2,
           MAX(s.span_days) AS max_span_days,
           CAST(SUM(s.n_orders) AS BIGINT) AS n_orders
    FROM s JOIN customer c ON c.c_custkey = s.custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_customer_order_span_stats(spark, t):
    """Customer lifetime span (first→last order, in days) rolled up to
    segment grain — the tenure backbone of the cohort/CLV family
    (cohort_retention buckets by first month; this measures the raw
    span). Integer day arithmetic and centi-day averages.

    Scale shape: one groupBy to customer grain, broadcast-joined
    segment dimension, one bounded roll-up."""
    s = t["orders"].groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.datediff(
            F.to_date(F.max("o_orderdate")), F.to_date(F.min("o_orderdate"))
        ).cast("long").alias("span_days"),
    )
    return (
        s.join(t["customer"], F.col("c_custkey") == F.col("custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.expr(
                "CAST(SUM(span_days) * 100 DIV COUNT(*) AS BIGINT)"
            ).alias("avg_span_days_e2"),
            F.max("span_days").alias("max_span_days"),
            F.sum("n_orders").alias("n_orders"),
        )
    )


@query(
    "tax_discount_joint_histogram",
    oracle="""
    SELECT CAST(ROUND(l_tax * 100) AS BIGINT) AS tax_pct,
           CAST(ROUND(l_discount * 100) AS BIGINT) AS discount_pct,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q_tax_discount_joint_histogram(spark, t):
    """2-D pricing-lever histogram: line counts and revenue over the
    (tax%, discount%) lattice — the joint distribution the pricing
    simulator needs (marginals alone hide that high tax never
    co-occurs with deep discount). Integer percent buckets and exact
    cents.

    Scale shape: map-side bucketing, one combine-heavy groupBy to the
    ≤ 9×11 lattice."""
    return (
        t["lineitem"]
        .groupBy(
            F.round(F.col("l_tax") * 100).cast("long").alias("tax_pct"),
            F.round(F.col("l_discount") * 100).cast("long").alias(
                "discount_pct"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(cents("l_extendedprice")).alias("cents"),
        )
    )
