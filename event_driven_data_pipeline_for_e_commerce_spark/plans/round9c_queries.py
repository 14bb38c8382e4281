"""Round-10-staged corpus additions (registered in round 8, positions
71+ of the registration order — deliberately AFTER the round-9-staged
block so the round-8/9 driver windows are untouched): priority
escalation transitions, order-value run lengths, session bounce rates,
within-user value concentration, supplier share volatility, line-number
position effects, term burstiness, kNN-graph reciprocity, random-
projection distortion, above-median revenue streaks, and first-vs-last
order drift.

Reference anchors: the dashboard's customer/revenue tabs
(app.py:286-470) ask "who is growing, who is churning, when does
revenue arrive"; these queries answer the sequencing/volatility forms
of those questions that the pandas snapshots cannot (lag transitions,
gaps-and-islands runs, per-user value curves). The three LLM-data
entries extend the dedup/ANN audit families (SURVEY.md §2 M7).
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..functions.money import L_REV_CENTS, O_CENTS, l_rev_cents, o_cents
from ..operators.partitioning import ensure_parallelism
from .corpus import ORACLES, QUERIES, query  # noqa: F401


# --------------------------------------------------------------------------
# Order sequencing: priority escalation + value run lengths
# --------------------------------------------------------------------------

@query(
    "order_priority_escalation_matrix",
    oracle="""
    WITH seq AS (
        SELECT o_orderpriority AS next_priority,
               LAG(o_orderpriority) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev_priority
        FROM orders
    ),
    m AS (
        SELECT prev_priority, next_priority, COUNT(*) AS n_transitions
        FROM seq WHERE prev_priority IS NOT NULL
        GROUP BY prev_priority, next_priority
    )
    SELECT prev_priority, next_priority, n_transitions,
           ROUND(n_transitions * 100.0
                 / SUM(n_transitions) OVER (PARTITION BY prev_priority),
                 4) AS row_share_pct
    FROM m ORDER BY prev_priority, next_priority
    """,
)
def q_order_priority_escalation_matrix(spark, t):
    """Consecutive-order priority transition matrix per customer: do
    urgent orders beget urgent orders? The categorical-lag twin of
    user_event_transitions, on the ORDER sequence instead of the event
    stream — the reference's priority tab (app.py:385-420) shows the
    static mix; this shows its dynamics.

    Scale shape: one window shuffle keyed by o_custkey (ties broken by
    o_orderkey for a total order), then a bounded <=25-cell matrix
    rollup; the row-share window runs over that bounded matrix."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = t["orders"].select(
        F.col("o_orderpriority").alias("next_priority"),
        F.lag("o_orderpriority").over(w).alias("prev_priority"),
    )
    m = (
        seq.filter(F.col("prev_priority").isNotNull())
        .groupBy("prev_priority", "next_priority")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_row = Window.partitionBy("prev_priority")
    return m.select(
        "prev_priority",
        "next_priority",
        "n_transitions",
        F.round(
            F.col("n_transitions") * 100.0 / F.sum("n_transitions").over(w_row),
            4,
        ).alias("row_share_pct"),
    ).orderBy("prev_priority", "next_priority")


@query(
    "order_value_increasing_runs",
    oracle=f"""
    WITH seq AS (
        SELECT o_custkey, cents,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS rn,
               LAG(cents) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev
        FROM (SELECT o_custkey, o_orderdate, o_orderkey,
                     {O_CENTS} AS cents FROM orders)
    ),
    brk AS (
        SELECT o_custkey, rn,
               CASE WHEN prev IS NULL OR cents <= prev THEN 1 ELSE 0 END AS b
        FROM seq
    ),
    grp AS (
        SELECT o_custkey,
               SUM(b) OVER (PARTITION BY o_custkey ORDER BY rn
                            ROWS UNBOUNDED PRECEDING) AS g
        FROM brk
    ),
    runs AS (
        SELECT o_custkey, g, COUNT(*) AS run_len FROM grp GROUP BY o_custkey, g
    ),
    best AS (SELECT o_custkey, MAX(run_len) AS max_run FROM runs GROUP BY o_custkey)
    SELECT CAST(max_run AS BIGINT) AS max_run_len,
           COUNT(*) AS n_customers
    FROM best GROUP BY max_run ORDER BY max_run_len
    """,
)
def q_order_value_increasing_runs(spark, t):
    """Gaps-and-islands run-length encoding on the per-customer order
    sequence: the longest streak of strictly increasing order values
    each customer ever posted, rolled into a histogram. Escalating
    streaks are the behavioral signature segment_value_trend_slope's
    linear fit smooths away.

    Scale shape: all three windows share one o_custkey partitioning
    (one shuffle, Spark reuses the exchange), runs/best are keyed
    rollups at customer grain, and the output is a bounded <=20-row
    histogram. Exact cents comparisons — no float ordering."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = t["orders"].select(
        "o_custkey",
        o_cents().alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.lag(o_cents()).over(w).alias("prev"),
    )
    brk = seq.select(
        "o_custkey",
        "rn",
        F.when(
            F.col("prev").isNull() | (F.col("cents") <= F.col("prev")), 1
        ).otherwise(0).alias("b"),
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = brk.select("o_custkey", F.sum("b").over(w_run).alias("g"))
    runs = grp.groupBy("o_custkey", "g").agg(F.count(F.lit(1)).alias("run_len"))
    best = runs.groupBy("o_custkey").agg(F.max("run_len").alias("max_run"))
    return (
        best.groupBy(F.col("max_run").cast("long").alias("max_run_len"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("max_run_len")
    )


# --------------------------------------------------------------------------
# Events: session bounce rate + within-user value concentration
# --------------------------------------------------------------------------

@query(
    "session_bounce_rate_by_hour",
    oracle="""
    WITH flags AS (
        SELECT user_id, event_id, ts,
               CASE WHEN ts - LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                         < INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS new_sess
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flags
    ),
    per AS (
        SELECT user_id, sid, COUNT(*) AS n_events, MIN(ts) AS entry_ts
        FROM sess GROUP BY user_id, sid
    )
    SELECT CAST(hour(entry_ts) AS BIGINT) AS entry_hour,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 100.0
                 / COUNT(*), 4) AS bounce_pct
    FROM per GROUP BY hour(entry_ts) ORDER BY entry_hour
    """,
)
def q_session_bounce_rate_by_hour(spark, t):
    """Single-event-session (bounce) rate by session entry hour — the
    diurnal quality view of sessionization: session_windows builds the
    sessions, sessions_per_user_histogram counts them, this says WHEN
    the one-and-done visits happen (reference funnel tab,
    app.py:471-530, has no time-of-day cut).

    Scale shape: the same lag/cumsum sessionization as the
    session_windows oracle twin (both windows share one user_id
    partitioning -> one shuffle), a keyed (user, sid) rollup, then a
    bounded 24-row hour rollup. Ties on ts are totally ordered by
    event_id on both engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timestamp-minus-timestamp is a microsecond-exact day-time
    # interval in both engines — never truncate to whole seconds here
    gap = F.col("ts") - F.lag("ts").over(w)
    flags = t["events"].select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap < F.expr("INTERVAL 30 MINUTES"), 0).otherwise(1).alias(
            "new_sess"
        ),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flags.select(
        "user_id", "ts", F.sum("new_sess").over(w_run).alias("sid")
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("entry_ts")
    )
    bounce = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return (
        per.groupBy(F.hour("entry_ts").cast("long").alias("entry_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(bounce).cast("long").alias("n_bounces"),
            F.round(F.sum(bounce) * 100.0 / F.count(F.lit(1)), 4).alias(
                "bounce_pct"
            ),
        )
        .orderBy("entry_hour")
    )


@query(
    "user_value_quartile_concentration",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    elig AS (
        SELECT user_id FROM e GROUP BY user_id
        HAVING COUNT(*) >= 4 AND SUM(cents) > 0
    ),
    q AS (
        SELECT e.user_id,
               NTILE(4) OVER (PARTITION BY e.user_id
                              ORDER BY e.ts, e.event_id) AS quartile,
               e.cents
        FROM e JOIN elig USING (user_id)
    ),
    per AS (SELECT quartile, SUM(cents) AS q_cents FROM q GROUP BY quartile),
    tot AS (SELECT SUM(q_cents) AS total FROM per)
    SELECT CAST(per.quartile AS BIGINT) AS quartile,
           CAST(per.q_cents AS BIGINT) AS q_cents,
           ROUND(per.q_cents * 100.0 / tot.total, 4) AS share_pct
    FROM per CROSS JOIN tot ORDER BY quartile
    """,
)
def q_user_value_quartile_concentration(spark, t):
    """Where in a user's event sequence does monetary value arrive?
    Pool each eligible user's (>= 4 events, positive value) lifetime
    into sequence quartiles via per-user NTILE and report each
    quartile's share of total cents — late-loaded value (Q4-heavy)
    means conversion compounds with tenure; front-loaded means novelty
    burn-off. The sequencing complement to segment_clv_projection's
    level forecast.

    Scale shape: NTILE partitions by user_id (one shuffle), the
    quartile rollup is 4 rows, and the total attaches as a broadcast
    1-row scalar anchor — no unpartitioned window anywhere."""
    e = t["events"].select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    elig = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("tot"))
        .filter((F.col("n") >= 4) & (F.col("tot") > 0))
        .select("user_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    q = e.join(elig, "user_id").select(
        F.ntile(4).over(w).alias("quartile"), "cents"
    )
    per = q.groupBy("quartile").agg(F.sum("cents").alias("q_cents"))
    tot = per.agg(F.sum("q_cents").alias("total"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("quartile").cast("long").alias("quartile"),
            F.col("q_cents").cast("long").alias("q_cents"),
            F.round(F.col("q_cents") * 100.0 / F.col("total"), 4).alias(
                "share_pct"
            ),
        )
        .orderBy("quartile")
    )


# --------------------------------------------------------------------------
# Supplier share volatility + line-number position effects
# --------------------------------------------------------------------------

@query(
    "supplier_quarter_share_volatility",
    oracle=f"""
    WITH r AS (
        SELECT l_suppkey,
               year(l_shipdate) * 10 + quarter(l_shipdate) AS yq,
               {L_REV_CENTS} AS cents
        FROM lineitem
    ),
    sq AS (SELECT l_suppkey, yq, SUM(cents) AS cents FROM r GROUP BY l_suppkey, yq),
    qt AS (SELECT yq, SUM(cents) AS total FROM sq GROUP BY yq),
    sh AS (
        SELECT sq.l_suppkey, sq.cents * 10000.0 / qt.total AS share_bp
        FROM sq JOIN qt USING (yq)
    ),
    vol AS (
        SELECT l_suppkey, COUNT(*) AS n_quarters,
               stddev_samp(share_bp) AS vol_bp
        FROM sh GROUP BY l_suppkey HAVING COUNT(*) >= 8
    )
    SELECT n.n_name AS nation,
           COUNT(*) AS n_suppliers,
           ROUND(AVG(vol_bp), 3) AS avg_vol_bp,
           ROUND(MAX(vol_bp), 3) AS max_vol_bp
    FROM vol
    JOIN supplier s ON s.s_suppkey = vol.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name ORDER BY nation
    """,
)
def q_supplier_quarter_share_volatility(spark, t):
    """Quarter-over-quarter volatility of each supplier's share of
    total shipped revenue (basis points), rolled to nation grain:
    steady-share suppliers are structural capacity, volatile ones are
    spot capacity — the stability axis that supplier_scorecard's level
    metrics and nation_revenue_rank_stability's nation grain both miss.

    Scale shape: one supplier x quarter rollup on the fact, a bounded
    ~30-row quarter-total frame joined back (broadcastable), a
    supplier-grain moment rollup, then broadcast supplier/nation dims
    into a 25-row nation rollup."""
    r = t["lineitem"].select(
        "l_suppkey",
        (F.year("l_shipdate") * 10 + F.quarter("l_shipdate")).alias("yq"),
        l_rev_cents().alias("cents"),
    )
    sq = r.groupBy("l_suppkey", "yq").agg(F.sum("cents").alias("cents"))
    qt = sq.groupBy("yq").agg(F.sum("cents").alias("total"))
    sh = sq.join(F.broadcast(qt), "yq").select(
        "l_suppkey", (F.col("cents") * 10000.0 / F.col("total")).alias("share_bp")
    )
    vol = (
        sh.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_quarters"),
            F.stddev_samp("share_bp").alias("vol_bp"),
        )
        .filter(F.col("n_quarters") >= 8)
    )
    return (
        vol.join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.avg("vol_bp"), 3).alias("avg_vol_bp"),
            F.round(F.max("vol_bp"), 3).alias("max_vol_bp"),
        )
        .orderBy("nation")
    )


@query(
    "lineitem_linenumber_profile",
    oracle=f"""
    WITH l AS (
        SELECT l_linenumber,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents,
               {L_REV_CENTS} AS rev_cents,
               CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_cents
        FROM lineitem
    ),
    agg AS (
        SELECT l_linenumber, COUNT(*) AS n_lines,
               SUM(price_cents) AS sum_price, SUM(rev_cents) AS sum_rev,
               SUM(qty_cents) AS sum_qty
        FROM l GROUP BY l_linenumber
    ),
    tot AS (SELECT SUM(rev_cents) AS total FROM l)
    SELECT CAST(l_linenumber AS BIGINT) AS linenumber,
           n_lines,
           ROUND(sum_price * 1.0 / n_lines, 2) AS avg_price_cents,
           ROUND(sum_rev * 100.0 / tot.total, 4) AS revenue_share_pct,
           ROUND(sum_qty * 1.0 / (100 * n_lines), 4) AS avg_qty
    FROM agg CROSS JOIN tot ORDER BY linenumber
    """,
)
def q_lineitem_linenumber_profile(spark, t):
    """Position-in-order effects: price, revenue share, and quantity by
    l_linenumber (the 1..7 slot a line occupies inside its order). A
    declining price curve across slots means lead items anchor the
    basket — the merchandising read no other corpus query touches
    (l_linenumber was the one unused column in the star schema).

    Scale shape: single map-side projection to exact cents, one
    bounded <=7-group rollup, and a broadcast 1-row total anchor; every
    ratio is a deterministic BIGINT division."""
    lines = t["lineitem"].select(
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        l_rev_cents().alias("rev_cents"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty_cents"),
    )
    agg = lines.groupBy("l_linenumber").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("price_cents").alias("sum_price"),
        F.sum("rev_cents").alias("sum_rev"),
        F.sum("qty_cents").alias("sum_qty"),
    )
    tot = lines.agg(F.sum("rev_cents").alias("total"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            F.col("l_linenumber").cast("long").alias("linenumber"),
            "n_lines",
            F.round(F.col("sum_price") * 1.0 / F.col("n_lines"), 2).alias(
                "avg_price_cents"
            ),
            F.round(F.col("sum_rev") * 100.0 / F.col("total"), 4).alias(
                "revenue_share_pct"
            ),
            F.round(
                F.col("sum_qty") * 1.0 / (100 * F.col("n_lines")), 4
            ).alias("avg_qty"),
        )
        .orderBy("linenumber")
    )


# --------------------------------------------------------------------------
# Daily revenue streaks + first-vs-last order drift
# --------------------------------------------------------------------------

@query(
    "daily_revenue_median_streaks",
    oracle=f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM({O_CENTS}) AS cents
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    med AS (
        SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY cents) AS m FROM d
    ),
    flag AS (
        SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS dn,
               CASE WHEN d.cents > med.m THEN 1 ELSE 0 END AS above
        FROM d CROSS JOIN med
    ),
    isl AS (
        SELECT above,
               dn - ROW_NUMBER() OVER (PARTITION BY above ORDER BY dn) AS g
        FROM flag
    ),
    runs AS (SELECT above, g, COUNT(*) AS len FROM isl GROUP BY above, g)
    SELECT CAST(above AS BIGINT) AS above,
           CAST(SUM(len) AS BIGINT) AS n_days,
           COUNT(*) AS n_runs,
           CAST(MAX(len) AS BIGINT) AS longest_run,
           ROUND(AVG(len), 4) AS avg_run_len
    FROM runs GROUP BY above ORDER BY above
    """,
)
def q_daily_revenue_median_streaks(spark, t):
    """Hot/cold streaks: consecutive-calendar-day runs of daily revenue
    above vs below the all-time daily median. Long above-median runs
    are campaign persistence; long below-median runs are the droughts
    daily_revenue_cusum_drift localizes — this measures their duration
    distribution instead of their onset. A missing calendar day breaks
    a run by construction (dn - row_number islands over present days).

    Scale shape: day-grain rollup first (bounded ~2.4k rows), median
    as a 1-row broadcast anchor over that bounded frame, islands
    window PARTITIONed BY the above-flag (never unpartitioned), 2-row
    output."""
    d = (
        t["orders"]
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(o_cents()).alias("cents"))
    )
    med = d.agg(F.expr("percentile(cents, 0.5)").alias("m"))
    flag = d.crossJoin(F.broadcast(med)).select(
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("dn"),
        F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("above"),
    )
    w = Window.partitionBy("above").orderBy("dn")
    isl = flag.select(
        "above", (F.col("dn") - F.row_number().over(w)).alias("g")
    )
    runs = isl.groupBy("above", "g").agg(F.count(F.lit(1)).alias("len"))
    return (
        runs.groupBy(F.col("above").cast("long").alias("above"))
        .agg(
            F.sum("len").cast("long").alias("n_days"),
            F.count(F.lit(1)).alias("n_runs"),
            F.max("len").cast("long").alias("longest_run"),
            F.round(F.avg("len"), 4).alias("avg_run_len"),
        )
        .orderBy("above")
    )


@query(
    "customer_first_last_value_shift",
    oracle=f"""
    WITH seq AS (
        SELECT o_custkey, cents,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC)
                   AS rn_d,
               COUNT(*) OVER (PARTITION BY o_custkey) AS n
        FROM (SELECT o_custkey, o_orderdate, o_orderkey,
                     {O_CENTS} AS cents FROM orders)
    ),
    fl AS (
        SELECT o_custkey,
               MAX(CASE WHEN rn_a = 1 THEN cents END) AS first_cents,
               MAX(CASE WHEN rn_d = 1 THEN cents END) AS last_cents
        FROM seq WHERE n >= 2 GROUP BY o_custkey
    ),
    j AS (
        SELECT c.c_mktsegment AS segment,
               CASE WHEN last_cents > first_cents THEN 1 ELSE 0 END AS up,
               CASE WHEN last_cents < first_cents THEN 1 ELSE 0 END AS down,
               last_cents - first_cents AS delta
        FROM fl JOIN customer c ON c.c_custkey = fl.o_custkey
    )
    SELECT segment, COUNT(*) AS n_customers,
           CAST(SUM(up) AS BIGINT) AS n_up,
           CAST(SUM(down) AS BIGINT) AS n_down,
           ROUND(SUM(up) * 100.0 / COUNT(*), 4) AS up_pct,
           ROUND(AVG(delta), 2) AS avg_delta_cents,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY delta), 2)
               AS p50_delta_cents
    FROM j GROUP BY segment ORDER BY segment
    """,
)
def q_customer_first_last_value_shift(spark, t):
    """First-vs-last order value drift per repeat customer, rolled to
    segment: are relationships deepening (last > first) or decaying?
    customer_value_migration tracks banded year-over-year moves; this
    is the endpoint-to-endpoint lifetime read with an exact-cents
    delta distribution.

    Scale shape: the three windows share one o_custkey partitioning
    (ascending and descending row_number reuse the same exchange; the
    count is frame-free), a customer-grain pivot rollup, broadcast
    segment dim, 5-row output."""
    base = t["orders"].select(
        "o_custkey", "o_orderdate", "o_orderkey", o_cents().alias("cents")
    )
    w_a = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_d = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    w_n = Window.partitionBy("o_custkey")
    seq = base.select(
        "o_custkey",
        "cents",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    fl = (
        seq.filter(F.col("n") >= 2)
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("cents"))).alias(
                "first_cents"
            ),
            F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).alias(
                "last_cents"
            ),
        )
    )
    j = fl.join(
        F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
        F.col("c_custkey") == F.col("o_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("last_cents") > F.col("first_cents"), 1)
        .otherwise(0)
        .alias("up"),
        F.when(F.col("last_cents") < F.col("first_cents"), 1)
        .otherwise(0)
        .alias("down"),
        (F.col("last_cents") - F.col("first_cents")).alias("delta"),
    )
    return (
        j.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("up").cast("long").alias("n_up"),
            F.sum("down").cast("long").alias("n_down"),
            F.round(F.sum("up") * 100.0 / F.count(F.lit(1)), 4).alias("up_pct"),
            F.round(F.avg("delta"), 2).alias("avg_delta_cents"),
            F.round(F.expr("percentile(delta, 0.5)"), 2).alias(
                "p50_delta_cents"
            ),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# LLM-data additions: term burstiness, kNN reciprocity, random
# projection distortion
# --------------------------------------------------------------------------

@query(
    "doc_term_burstiness_topk",
    oracle=r"""
    WITH w AS (
        SELECT doc_id, u.w AS word
        FROM documents,
             UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(w)
        WHERE trim(text) <> ''
    ),
    wd AS (SELECT word, doc_id, COUNT(*) AS c FROM w GROUP BY word, doc_id),
    st AS (
        SELECT word, COUNT(*) AS df,
               CAST(SUM(c) AS BIGINT) AS total_tf,
               CASE WHEN COUNT(*) >= 2
                    THEN var_samp(c) / AVG(c) ELSE 0.0 END AS vmr
        FROM wd GROUP BY word
    )
    SELECT word, df, total_tf, ROUND(vmr, 4) AS vmr
    FROM st ORDER BY df DESC, word LIMIT 20
    """,
)
def q_doc_term_burstiness_topk(spark, t):
    """Term burstiness (variance-to-mean ratio of per-document counts)
    for the 20 highest-document-frequency terms: bursty terms (VMR >>
    1) clump in few documents — topical signal; Poisson-like terms
    (VMR ~ 1) are function words. The dispersion dimension that
    doc_tfidf_top_terms' level weighting and doc_zipf_slope's rank
    curve both integrate out — Church & Gale's burstiness diagnostic
    for corpus-mix audits.

    Scale shape: tokens explode map-side, one (word, doc) rollup, one
    word-grain moment rollup, and the top-20 cut plans as
    TakeOrderedAndProject on (df DESC, word) — no vocab-frame window,
    no unbounded sort."""
    w = (
        ensure_parallelism(t["documents"])
        .filter(F.trim("text") != "")
        .select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("word"),
        )
    )
    wd = w.groupBy("word", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    st = wd.groupBy("word").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").cast("long").alias("total_tf"),
        F.when(
            F.count(F.lit(1)) >= 2, F.var_samp("c") / F.avg("c")
        )
        .otherwise(F.lit(0.0))
        .alias("vmr"),
    )
    return (
        st.select("word", "df", "total_tf", F.round("vmr", 4).alias("vmr"))
        .orderBy(F.desc("df"), "word")
        .limit(20)
    )


# ADVICE-r8: the deterministic sample moduli for the two quadratic
# audit contracts below are module constants so operators can widen
# the sample denominator (raise the modulus -> smaller sample) for a
# bigger corpus without editing the query bodies. Both the engine
# plan and the DuckDB oracle read the same constant, so the audit
# stays oracle-equal at any setting.
_KNN_SAMPLE_MOD = 4
_RP_SAMPLE_MOD = 10


@query(
    "emb_knn_reciprocity",
    oracle=f"""
    WITH s AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % {_KNN_SAMPLE_MOD} = 0
    ),
    pairs AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS sim
        FROM s a, s b WHERE a.vec_id <> b.vec_id
    ),
    edges AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY sim DESC, neighbor_id) rn
              FROM pairs)
        WHERE rn <= 5
    ),
    m AS (
        SELECT COUNT(*) AS n_mutual FROM edges e
        WHERE EXISTS (SELECT 1 FROM edges r
                      WHERE r.query_id = e.neighbor_id
                        AND r.neighbor_id = e.query_id)
    )
    SELECT (SELECT COUNT(*) FROM s) AS n_sample,
           (SELECT COUNT(*) FROM edges) AS n_edges,
           CAST(m.n_mutual AS BIGINT) AS n_mutual,
           ROUND(m.n_mutual * 100.0 / (SELECT COUNT(*) FROM edges), 4)
               AS reciprocity_pct
    FROM m
    """,
)
def q_emb_knn_reciprocity(spark, t):
    """kNN-graph reciprocity on a deterministic quarter sample
    (vec_id % 4 = 0, k = 5, cosine): the fraction of directed
    nearest-neighbor edges whose reverse edge also exists. Low
    reciprocity flags hubness — points that appear in everyone's
    neighbor list without reciprocating — the pathology that degrades
    ANN recall on anisotropic embeddings (the diagnosis side of what
    emb_ann_recall_contract measures as symptom).

    Scale shape: sample-scale AUDIT contract (the within-sample pair
    join is quadratic in the sample, like minhash_recall_stats' truth
    side — the module constant ``_KNN_SAMPLE_MOD`` is the 100 TB
    knob, shared by engine and oracle so widening it keeps the audit
    oracle-equal); the mutual check INTERSECTs bare-id edges; never a
    production path."""
    from ..llmdata.similarity import brute_force_topk

    sample = t["embeddings"].filter(F.col("vec_id") % _KNN_SAMPLE_MOD == 0)
    edges = brute_force_topk(sample, sample, k=5).select(
        "query_id", "neighbor_id"
    )
    rev = edges.select(
        F.col("query_id").alias("r_neighbor"), F.col("neighbor_id").alias("r_query")
    )
    mutual = edges.join(
        rev,
        (F.col("query_id") == F.col("r_query"))
        & (F.col("neighbor_id") == F.col("r_neighbor")),
        "left_semi",
    )
    n_sample = sample.agg(F.count(F.lit(1)).alias("n_sample"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_mutual = mutual.agg(F.count(F.lit(1)).cast("long").alias("n_mutual"))
    return (
        n_sample.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_mutual))
        .select(
            "n_sample",
            "n_edges",
            "n_mutual",
            F.round(F.col("n_mutual") * 100.0 / F.col("n_edges"), 4).alias(
                "reciprocity_pct"
            ),
        )
    )


# Deterministic +/-1 sign matrix for the random projection: sign(j, i)
# = +1 iff the first hex digit of md5("j_i") < '8' — reproducible in
# any engine, seedless, and independent of row order. 8 projected dims
# over the 64 input dims.
_RP_K = 8
_RP_D = 64


def _rp_sign(j: int, i: int) -> int:
    return 1 if hashlib.md5(f"{j}_{i}".encode()).hexdigest()[0] < "8" else -1


def _rp_proj_sql(vec: str, j: int, base: int) -> str:
    """Signed sum over input dims IN INDEX ORDER (identical FP
    association on both engines). ``base`` = 1 for DuckDB list
    indexing, 0 for Spark array indexing."""
    terms = []
    for i in range(_RP_D):
        op = "+" if _rp_sign(j, i) > 0 else "-"
        terms.append(f"{op} {vec}[{i + base}]")
    return "(" + " ".join(terms) + ")"


def _rp_oracle() -> str:
    proj = ", ".join(
        f"CAST({_rp_proj_sql('v', j, base=1)} AS DOUBLE)" for j in range(_RP_K)
    )
    return f"""
    WITH s AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % {_RP_SAMPLE_MOD} = 0
    ),
    p AS (SELECT vec_id, v, [{proj}] AS y FROM s),
    d AS (
        SELECT (list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v)
                - 2 * list_dot_product(a.v, b.v)) AS dx2,
               (list_dot_product(a.y, a.y) + list_dot_product(b.y, b.y)
                - 2 * list_dot_product(a.y, b.y)) AS dy2
        FROM p a JOIN p b ON a.vec_id < b.vec_id
    ),
    r AS (SELECT dy2 / ({_RP_K} * dx2) AS ratio FROM d WHERE dx2 > 0)
    SELECT COUNT(*) AS n_pairs,
           ROUND(AVG(ratio), 4) AS mean_ratio,
           ROUND(MIN(ratio), 4) AS min_ratio,
           ROUND(MAX(ratio), 4) AS max_ratio,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY ratio), 4)
               AS p50_ratio
    FROM r
    """


@query("emb_random_projection_distortion", oracle=_rp_oracle())
def q_emb_random_projection_distortion(spark, t):
    """Johnson-Lindenstrauss distortion audit for a seedless +/-1
    random projection (64 -> 8 dims, md5-derived signs): the ratio
    ||R(a-b)||^2 / (k * ||a-b||^2) over all pairs of a deterministic
    tenth sample should concentrate near 1. Mean/median near 1 with a
    tight spread certifies the projection as a cheap pre-filter for
    the ANN paths; heavy tails say 8 dims is too aggressive for this
    corpus. Signs are generated by the same md5 rule in engine and
    oracle — no RNG, no seed exchange.

    Scale shape: the projection itself is a map-side 512-term signed
    sum (whole-stage codegen, zero shuffle — this is the production
    artifact); the distortion measurement is a sample-scale AUDIT over
    within-sample pairs (quadratic in the tenth sample; the module
    constant ``_RP_SAMPLE_MOD`` is the 100 TB knob shared by engine
    and oracle, like emb_knn_reciprocity's ``_KNN_SAMPLE_MOD``)."""
    s = t["embeddings"].filter(F.col("vec_id") % _RP_SAMPLE_MOD == 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    proj = [
        F.expr(_rp_proj_sql("v", j, base=0)).cast("double")
        for j in range(_RP_K)
    ]
    p = s.select("vec_id", "v", F.array(*proj).alias("y"))

    def dot_sql(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )

    a = p.select(
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("va"),
        F.col("y").alias("ya"),
    )
    b = p.select(
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("vb"),
        F.col("y").alias("yb"),
    )
    d = a.join(F.broadcast(b), F.col("a_id") < F.col("b_id")).select(
        (
            F.expr(dot_sql("va", "va"))
            + F.expr(dot_sql("vb", "vb"))
            - 2 * F.expr(dot_sql("va", "vb"))
        ).alias("dx2"),
        (
            F.expr(dot_sql("ya", "ya"))
            + F.expr(dot_sql("yb", "yb"))
            - 2 * F.expr(dot_sql("ya", "yb"))
        ).alias("dy2"),
    )
    r = d.filter(F.col("dx2") > 0).select(
        (F.col("dy2") / (_RP_K * F.col("dx2"))).alias("ratio")
    )
    return r.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("ratio"), 4).alias("mean_ratio"),
        F.round(F.min("ratio"), 4).alias("min_ratio"),
        F.round(F.max("ratio"), 4).alias("max_ratio"),
        F.round(F.expr("percentile(ratio, 0.5)"), 4).alias("p50_ratio"),
    )
