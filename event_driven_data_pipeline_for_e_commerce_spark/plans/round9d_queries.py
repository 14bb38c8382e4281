"""Round-10-staged corpus additions, part 2 (registered in round 8,
positions 82+): an exact Mann-Whitney U weekend-vs-weekday order-value
test on the scalable ranged-cumulative operator, a 90-day RANGE-frame
rolling spend peak, session-level event-type affinity, supplier
shared-part Jaccard, embedding variance-energy concentration, and the
Zipf abbreviation-law curve.

Reference anchors: the revenue tab's weekday/weekend split
(app.py:286-340) only shows level differences — the Mann-Whitney test
is its statistical form; the rolling peak and affinity views extend
the customer/funnel tabs (app.py:341-530) with sequence-aware reads.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..functions.money import O_CENTS, o_cents
from ..operators.partitioning import ensure_parallelism
from .corpus import ORACLES, QUERIES, query  # noqa: F401


@query(
    "order_value_weekend_mannwhitney",
    oracle=f"""
    WITH base AS (
        SELECT {O_CENTS} AS cents,
               CASE WHEN CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-05'
                         AS BIGINT) % 7 IN (5, 6)
                    THEN 1 ELSE 0 END AS wk
        FROM orders
    ),
    v AS (
        SELECT cents,
               SUM(wk) AS a,
               SUM(1 - wk) AS b
        FROM base GROUP BY cents
    ),
    c AS (
        SELECT a, b,
               SUM(b) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) - b
                   AS cb_excl
        FROM v
    ),
    agg AS (
        SELECT SUM(CAST(a AS DECIMAL(38,0))
                   * CAST(2 * cb_excl + b AS DECIMAL(38,0))) AS u2,
               SUM(a) AS n_weekend,
               SUM(b) AS n_weekday,
               SUM(CAST(a + b AS DECIMAL(38,0))
                   * CAST(a + b AS DECIMAL(38,0))
                   * CAST(a + b AS DECIMAL(38,0))
                   - CAST(a + b AS DECIMAL(38,0))) AS tie_term
        FROM c
    )
    SELECT CAST(n_weekend AS BIGINT) AS n_weekend,
           CAST(n_weekday AS BIGINT) AS n_weekday,
           ROUND(CAST(u2 AS DOUBLE), 0) AS u_stat_x2,
           ROUND(
               (CAST(u2 AS DOUBLE)
                - CAST(n_weekend AS DOUBLE) * CAST(n_weekday AS DOUBLE))
               / (2 * sqrt(
                   CAST(n_weekend AS DOUBLE) * CAST(n_weekday AS DOUBLE)
                   / 12.0
                   * ((CAST(n_weekend + n_weekday AS DOUBLE) + 1)
                      - CAST(tie_term AS DOUBLE)
                        / (CAST(n_weekend + n_weekday AS DOUBLE)
                           * (CAST(n_weekend + n_weekday AS DOUBLE) - 1))))),
               4) AS z_score,
           ROUND(CAST(u2 AS DOUBLE)
                 / (CAST(n_weekend AS DOUBLE) * CAST(n_weekday AS DOUBLE))
                 - 1, 6) AS rank_biserial
    FROM agg
    """,
)
def q_order_value_weekend_mannwhitney(spark, t):
    """Exact Mann-Whitney U test: do weekend orders have a different
    value DISTRIBUTION than weekday orders (not just a different
    mean)? Reports the doubled U statistic (2U counts each tie once —
    exact integers, no half-ranks), the tie-corrected normal
    z-score, and the rank-biserial effect size 2U/(nA*nB) - 1.
    weekend_order_share_by_segment compares volumes; this is the
    distributional significance test behind it.

    Scale shape: the pairwise count Sum_v a(v) * #{weekday below v}
    is computed from a VALUE-GRAIN rollup (one shuffle) plus
    ``running_sum_ranged`` — rows bucketed by cents, per-bucket
    partials prefix-summed in the plan, PARTITION BY __pid window — so
    the global cumulative never funnels through one task. All products
    accumulate in DECIMAL(38,0) (exact far past 2^63; the ADVICE-r7
    volatility lesson applied at birth); doubles only in the final
    1-row z/effect projection."""
    from ..operators.cumulative import running_sum_ranged

    dow = (
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-05").cast("date")
        ).cast("long")
        % 7
    )
    base = t["orders"].select(
        o_cents().alias("cents"),
        F.when(dow.isin(5, 6), 1).otherwise(0).alias("wk"),
    )
    v = base.groupBy("cents").agg(
        F.sum("wk").alias("a"), F.sum(F.lit(1) - F.col("wk")).alias("b")
    )
    c = running_sum_ranged(v, [("cents", True)], "b", "cb_incl").select(
        "a", "b", (F.col("cb_incl") - F.col("b")).alias("cb_excl")
    )
    dec = "decimal(38,0)"
    tvar = (F.col("a") + F.col("b")).cast(dec)
    agg = c.agg(
        F.sum(
            F.col("a").cast(dec)
            * (2 * F.col("cb_excl") + F.col("b")).cast(dec)
        ).alias("u2"),
        F.sum("a").alias("n_weekend"),
        F.sum("b").alias("n_weekday"),
        F.sum(tvar * tvar * tvar - tvar).alias("tie_term"),
    )
    u2d = F.col("u2").cast("double")
    nad = F.col("n_weekend").cast("double")
    nbd = F.col("n_weekday").cast("double")
    nd = (F.col("n_weekend") + F.col("n_weekday")).cast("double")
    var_u = (
        nad * nbd / 12.0
        * ((nd + 1) - F.col("tie_term").cast("double") / (nd * (nd - 1)))
    )
    return agg.select(
        F.col("n_weekend").cast("long").alias("n_weekend"),
        F.col("n_weekday").cast("long").alias("n_weekday"),
        F.round(u2d, 0).alias("u_stat_x2"),
        F.round((u2d - nad * nbd) / (2 * F.sqrt(var_u)), 4).alias("z_score"),
        F.round(u2d / (nad * nbd) - 1, 6).alias("rank_biserial"),
    )


@query(
    "customer_peak90d_spend_digits",
    oracle=f"""
    WITH cd AS (
        SELECT o_custkey,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS dn,
               SUM({O_CENTS}) AS cents
        FROM orders
        GROUP BY o_custkey,
                 CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
    ),
    r AS (
        SELECT o_custkey,
               SUM(cents) OVER (PARTITION BY o_custkey ORDER BY dn
                                RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)
                   AS win_cents
        FROM cd
    ),
    p AS (SELECT o_custkey, MAX(win_cents) AS peak FROM r GROUP BY o_custkey)
    SELECT CAST(length(CAST(peak AS STRING)) AS BIGINT) AS peak_digits,
           COUNT(*) AS n_customers,
           CAST(MAX(peak) AS BIGINT) AS max_peak_cents,
           ROUND(SUM(peak) * 1.0 / COUNT(*), 2) AS avg_peak_cents
    FROM p GROUP BY length(CAST(peak AS STRING)) ORDER BY peak_digits
    """,
)
def q_customer_peak90d_spend_digits(spark, t):
    """Peak trailing-90-day spend per customer (the burst a credit/
    inventory planner sizes for), banded by decimal digit count: a
    RANGE-frame rolling window — each customer-day sums every order
    day within 89 calendar days behind it, gaps included — which no
    other corpus query exercises (all other rolling reads are
    ROWS-frame or gap-filled day grids). Digit bands avoid log10: the
    band edge is exact integer string length on both engines.

    Scale shape: fact collapses to customer-day grain first; the
    RANGE window partitions by o_custkey (one shuffle, executor-
    parallel); peak and band rollups are keyed; output <= 10 rows."""
    cd = (
        t["orders"]
        .groupBy(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("long")
            .alias("dn"),
        )
        .agg(F.sum(o_cents()).alias("cents"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("dn")
        .rangeBetween(-89, Window.currentRow)
    )
    r = cd.select("o_custkey", F.sum("cents").over(w).alias("win_cents"))
    p = r.groupBy("o_custkey").agg(F.max("win_cents").alias("peak"))
    return (
        p.groupBy(
            F.length(F.col("peak").cast("string"))
            .cast("long")
            .alias("peak_digits")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.max("peak").cast("long").alias("max_peak_cents"),
            F.round(F.sum("peak") * 1.0 / F.count(F.lit(1)), 2).alias(
                "avg_peak_cents"
            ),
        )
        .orderBy("peak_digits")
    )


@query(
    "session_event_type_affinity",
    oracle="""
    WITH flags AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN ts - LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                         < INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS new_sess
        FROM events
    ),
    sess AS (
        SELECT user_id, event_type,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flags
    ),
    st AS (SELECT DISTINCT user_id, sid, event_type FROM sess),
    tc AS (SELECT event_type, COUNT(*) AS n FROM st GROUP BY event_type),
    tot AS (
        SELECT COUNT(*) AS n_sessions
        FROM (SELECT user_id, sid FROM st GROUP BY user_id, sid)
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_both
        FROM st a JOIN st b
          ON a.user_id = b.user_id AND a.sid = b.sid
         AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, n_both,
           ROUND(n_both * 100.0 / tot.n_sessions, 4) AS support_pct,
           ROUND(n_both * 1.0 * tot.n_sessions / (ta.n * tb.n), 4) AS lift
    FROM pairs
    JOIN tc ta ON ta.event_type = pairs.type_a
    JOIN tc tb ON tb.event_type = pairs.type_b
    CROSS JOIN tot
    ORDER BY type_a, type_b
    """,
)
def q_session_event_type_affinity(spark, t):
    """Event-type co-occurrence WITHIN a session (30-min gap): support
    and lift for each unordered type pair. basket_association_rules
    mines part co-purchase inside orders; this is its behavioral twin
    on the clickstream — lift >> 1 between view and purchase inside
    one session is the same-visit conversion signal the funnel's
    global counts wash out.

    Scale shape: lag/cumsum sessionization (one user_id window
    shuffle), then ONE session-grain collect_set aggregation (r11,
    guide §2.4) replaces the former DISTINCT + session-keyed
    self-join: the per-session distinct type set dedups inside the
    aggregate, type counts and the session count derive from the
    pinned session frame, and type pairs unfold map-side from the
    sorted sets (<= |event-type| = 5 per session — the small-bucket
    regime where the unfold wins; same-session A/B medians 1.07s vs
    1.41s at sf0.1, value-equal at every SF). Broadcast 5-row
    type-count and 1-row session-count anchors; <= 10 output rows."""
    from ..operators.pinning import pin

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    flags = t["events"].select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(gap < F.expr("INTERVAL 30 MINUTES"), 0).otherwise(1).alias(
            "new_sess"
        ),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = pin(
        flags.select(
            "user_id",
            "event_type",
            F.sum("new_sess").over(w_run).alias("sid"),
        )
        .groupBy("user_id", "sid")
        .agg(F.sort_array(F.collect_set("event_type")).alias("types"))
    )
    tc = (
        sess.select(F.explode("types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = sess.agg(F.count(F.lit(1)).alias("n_sessions"))
    pair_expr = (
        "flatten(transform(types, (a, i) -> "
        "transform(slice(types, i + 2, size(types)), "
        "b -> struct(a AS type_a, b AS type_b))))"
    )
    pairs = (
        sess.filter(F.size("types") > 1)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy("p.type_a", "p.type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ta = tc.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    tb = tc.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(F.col("n_both") * 100.0 / F.col("n_sessions"), 4).alias(
                "support_pct"
            ),
            F.round(
                F.col("n_both") * 1.0 * F.col("n_sessions")
                / (F.col("na") * F.col("nb")),
                4,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "supplier_shared_part_jaccard_topk",
    oracle="""
    WITH e AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
    deg AS (SELECT sk, COUNT(*) AS n_parts FROM e GROUP BY sk),
    p AS (
        SELECT a.sk AS s1, b.sk AS s2, COUNT(*) AS n_shared
        FROM e a JOIN e b ON a.pk = b.pk AND a.sk < b.sk
        GROUP BY a.sk, b.sk
    )
    SELECT s1, s2, n_shared,
           CAST(d1.n_parts AS BIGINT) AS n_parts_1,
           CAST(d2.n_parts AS BIGINT) AS n_parts_2,
           ROUND(n_shared * 1.0 / (d1.n_parts + d2.n_parts - n_shared), 6)
               AS jaccard
    FROM p
    JOIN deg d1 ON d1.sk = p.s1
    JOIN deg d2 ON d2.sk = p.s2
    ORDER BY jaccard DESC, s1, s2 LIMIT 20
    """,
)
def q_supplier_shared_part_jaccard_topk(spark, t):
    """Supplier substitutability: Jaccard overlap of the part sets two
    suppliers ship, top 20 pairs — near-identical catalogs mean a
    procurement team can consolidate or dual-source.
    copurchase_jaccard_similar_parts walks the customer-part graph;
    this walks part-supplier, the supply-side projection.

    Scale shape: distinct (part, supplier) edges first (hash shuffle
    of bare ids), pair generation keyed ON THE PART (suppliers per
    part is a bounded fanout — the banded-join discipline of the dedup
    family, never supplier x supplier), keyed degree joins, and the
    top-20 cut plans as TakeOrderedAndProject."""
    e = (
        t["lineitem"]
        .select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    deg = e.groupBy("sk").agg(F.count(F.lit(1)).alias("n_parts"))
    a = e.select("pk", F.col("sk").alias("s1"))
    b = e.select(F.col("pk").alias("pk2"), F.col("sk").alias("s2"))
    p = (
        a.join(b, (F.col("pk") == F.col("pk2")) & (F.col("s1") < F.col("s2")))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    d1 = deg.select(F.col("sk").alias("s1"), F.col("n_parts").alias("np1"))
    d2 = deg.select(F.col("sk").alias("s2"), F.col("n_parts").alias("np2"))
    return (
        p.join(d1, "s1")
        .join(d2, "s2")
        .select(
            "s1",
            "s2",
            "n_shared",
            F.col("np1").cast("long").alias("n_parts_1"),
            F.col("np2").cast("long").alias("n_parts_2"),
            F.round(
                F.col("n_shared")
                * 1.0
                / (F.col("np1") + F.col("np2") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "s1", "s2")
        .limit(20)
    )


@query(
    "emb_dim_energy_concentration",
    oracle="""
    WITH s AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    d AS (
        SELECT t.i AS dim, var_pop(s.v[t.i + 1]) AS var_i
        FROM s CROSS JOIN (SELECT UNNEST(range(0, 64)) AS i) t
        GROUP BY t.i
    ),
    tot AS (SELECT SUM(var_i) AS total FROM d),
    r AS (
        SELECT var_i,
               SUM(var_i) OVER (ORDER BY var_i DESC, dim
                                ROWS UNBOUNDED PRECEDING) AS cum,
               ROW_NUMBER() OVER (ORDER BY var_i DESC, dim) AS k
        FROM d
    ),
    c AS (SELECT k, cum * 1.0 / tot.total AS cum_share FROM r CROSS JOIN tot),
    th AS (SELECT * FROM (VALUES (50), (80), (90)) AS t(threshold_pct)),
    hit AS (
        SELECT th.threshold_pct, MIN(c.k) AS n_dims
        FROM th JOIN c ON c.cum_share * 100 >= th.threshold_pct
        GROUP BY th.threshold_pct
    )
    SELECT CAST(hit.threshold_pct AS BIGINT) AS threshold_pct,
           CAST(hit.n_dims AS BIGINT) AS n_dims,
           ROUND(MAX(c2.cum_share), 6) AS share_at_k
    FROM hit JOIN c c2 ON c2.k = hit.n_dims
    GROUP BY hit.threshold_pct, hit.n_dims
    ORDER BY threshold_pct
    """,
)
def q_emb_dim_energy_concentration(spark, t):
    """Variance-energy concentration across embedding dimensions: the
    number of (axis-aligned) dimensions needed to cover 50/80/90% of
    total per-dim variance. A tight count says the embedding is
    effectively low-rank on raw axes — the cheap screen before paying
    for the PCA power iteration (emb_top_principal_component measures
    the rotated version; emb_dim_stats reports levels, not the
    concentration curve).

    Scale shape: one posexplode map-side expansion, a 64-group moment
    rollup, then every window/join runs over the FIXED 64-row dim
    frame (allowlisted bounded grain) with broadcast 1-row/3-row
    anchors; output is 3 rows."""
    s = ensure_parallelism(t["embeddings"]).select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "x"
        )
    )
    d = s.groupBy("dim").agg(F.var_pop("x").alias("var_i"))
    tot = d.agg(F.sum("var_i").alias("total"))
    w_cum = (
        Window.orderBy(F.desc("var_i"), F.asc("dim"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_rank = Window.orderBy(F.desc("var_i"), F.asc("dim"))
    r = d.select(
        F.sum("var_i").over(w_cum).alias("cum"),
        F.row_number().over(w_rank).alias("k"),
    )
    c = r.crossJoin(F.broadcast(tot)).select(
        "k", (F.col("cum") * 1.0 / F.col("total")).alias("cum_share")
    )
    th = spark.range(1).select(
        F.explode(F.array(F.lit(50), F.lit(80), F.lit(90))).alias(
            "threshold_pct"
        )
    )
    hit = (
        c.join(F.broadcast(th), F.col("cum_share") * 100 >= F.col("threshold_pct"))
        .groupBy("threshold_pct")
        .agg(F.min("k").alias("n_dims"))
    )
    c2 = c.select(F.col("k").alias("k2"), F.col("cum_share").alias("share2"))
    return (
        hit.join(F.broadcast(c2), F.col("n_dims") == F.col("k2"))
        .groupBy(
            F.col("threshold_pct").cast("long").alias("threshold_pct"),
            F.col("n_dims").cast("long").alias("n_dims"),
        )
        .agg(F.round(F.max("share2"), 6).alias("share_at_k"))
        .orderBy("threshold_pct")
    )


@query(
    "doc_zipf_abbreviation_curve",
    oracle=r"""
    WITH w AS (
        SELECT u.w AS word
        FROM documents,
             UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(w)
        WHERE trim(text) <> ''
    ),
    t AS (SELECT word, COUNT(*) AS tf FROM w GROUP BY word),
    b AS (
        SELECT length(CAST(tf AS STRING)) AS tf_digits,
               length(word) AS wl, tf
        FROM t
    )
    SELECT CAST(tf_digits AS BIGINT) AS tf_digits,
           COUNT(*) AS n_terms,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           ROUND(SUM(wl) * 1.0 / COUNT(*), 4) AS avg_word_len
    FROM b GROUP BY tf_digits ORDER BY tf_digits
    """,
)
def q_doc_zipf_abbreviation_curve(spark, t):
    """Zipf's law of abbreviation: frequent words are short. Terms
    banded by frequency magnitude (decimal digits of total term
    frequency — exact integer band edges) against their mean word
    length; a natural-language corpus shows a monotone decline, and a
    flat curve flags templated/synthetic text. The word-length axis of
    doc_zipf_slope's rank-frequency fit and doc_word_len_histogram's
    marginal, joined into one diagnostic.

    Scale shape: tokens explode map-side, one term-grain rollup
    (hash shuffle of bare words), then a bounded <=8-band rollup —
    exact BIGINT arithmetic end to end."""
    w = (
        ensure_parallelism(t["documents"])
        .filter(F.trim("text") != "")
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("word")
        )
    )
    terms = w.groupBy("word").agg(F.count(F.lit(1)).alias("tf"))
    b = terms.select(
        F.length(F.col("tf").cast("string")).alias("tf_digits"),
        F.length("word").alias("wl"),
        "tf",
    )
    return (
        b.groupBy(F.col("tf_digits").cast("long").alias("tf_digits"))
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.round(F.sum("wl") * 1.0 / F.count(F.lit(1)), 4).alias(
                "avg_word_len"
            ),
        )
        .orderBy("tf_digits")
    )
