"""Round-10-staged corpus additions, part 3 (registered in round 8,
positions 88+): MMR-diversified retrieval, session duration bands by
entry type, a SimHash per-bit balance audit, a two-way ANOVA of order
value on priority x weekend, first-order-size cohorts, and part
active-span revenue velocity.

Reference anchors: the dashboard's recommendation-ish "top products"
view (app.py:421-470) is plain top-k; MMR is the diversified form a
training-data curator actually needs. The ANOVA is the significance
backbone for the revenue tab's priority/weekday splits
(app.py:286-340); the cohort and lifecycle reads extend the customer
tab (app.py:341-420).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..functions.money import O_CENTS
from .corpus import ORACLES, QUERIES, query  # noqa: F401

_LAMBDA = 0.7


@query(
    "emb_mmr_diversified_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
    cand AS (
        SELECT q.qid, e.vec_id AS id, e.v,
               list_dot_product(e.v, q.qv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS qsim
        FROM e, q WHERE e.vec_id <> q.qid
    ),
    p1 AS (
        SELECT qid, id AS s1, qsim AS sc1
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                           ORDER BY qsim DESC, id) rn
              FROM cand)
        WHERE rn = 1
    ),
    c1 AS (
        SELECT cand.qid, cand.id, cand.v, cand.qsim,
               list_dot_product(cand.v, e1.v)
               / (sqrt(list_dot_product(cand.v, cand.v))
                  * sqrt(list_dot_product(e1.v, e1.v))) AS sim1
        FROM cand
        JOIN p1 ON p1.qid = cand.qid AND cand.id <> p1.s1
        JOIN e e1 ON e1.vec_id = p1.s1
    ),
    p2 AS (
        SELECT qid, id AS s2, {_LAMBDA} * qsim - {1 - _LAMBDA} * sim1 AS sc2
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY qid
                  ORDER BY {_LAMBDA} * qsim - {1 - _LAMBDA} * sim1 DESC, id) rn
              FROM c1)
        WHERE rn = 1
    ),
    c2 AS (
        SELECT c1.qid, c1.id, c1.qsim, c1.sim1,
               list_dot_product(c1.v, e2.v)
               / (sqrt(list_dot_product(c1.v, c1.v))
                  * sqrt(list_dot_product(e2.v, e2.v))) AS sim2
        FROM c1
        JOIN p2 ON p2.qid = c1.qid AND c1.id <> p2.s2
        JOIN e e2 ON e2.vec_id = p2.s2
    ),
    p3 AS (
        SELECT qid, id AS s3,
               {_LAMBDA} * qsim - {1 - _LAMBDA} * greatest(sim1, sim2) AS sc3
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY qid
                  ORDER BY {_LAMBDA} * qsim
                           - {1 - _LAMBDA} * greatest(sim1, sim2) DESC,
                           id) rn
              FROM c2)
        WHERE rn = 1
    )
    SELECT qid AS query_id, CAST(1 AS BIGINT) AS rank,
           s1 AS neighbor_id, ROUND(sc1, 6) AS mmr_score
    FROM p1
    UNION ALL
    SELECT qid, CAST(2 AS BIGINT), s2, ROUND(sc2, 6) FROM p2
    UNION ALL
    SELECT qid, CAST(3 AS BIGINT), s3, ROUND(sc3, 6) FROM p3
    """,
)
def q_emb_mmr_diversified_topk(spark, t):
    """Maximal Marginal Relevance retrieval (lambda = 0.7, k = 3):
    greedy diversified top-k where each pick maximizes
    lambda * sim(query, d) - (1 - lambda) * max sim(d, already picked).
    Plain cosine top-k (emb_cosine_topk) returns near-duplicates of
    one mode; MMR is the selection rule a training-data curator runs
    to get coverage — Carbonell & Goldstein's classic, expressed as a
    FIXED 3-step unrolled greedy (no data-dependent iteration count).

    Scale shape: the candidate frame (corpus x 3 queries with
    broadcast query vectors) is pinned and reused by all three steps;
    every argmax is a PARTITION BY query window; each selection is a
    3-row broadcast joined back for the penalty similarity. Rank-1
    score is the raw cosine (empty penalty set)."""
    from ..llmdata.similarity import dot, norm
    from ..operators.partitioning import ensure_parallelism
    from ..operators.pinning import pin

    e = ensure_parallelism(
        t["embeddings"].select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    q = (
        e.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    )
    cand = pin(
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("id"),
            "v",
            (dot(F.col("v"), F.col("qv")) / (norm(F.col("v")) * norm(F.col("qv")))).alias(
                "qsim"
            ),
        )
    )
    lam, mu = _LAMBDA, 1 - _LAMBDA

    def argmax(df, score_col, keep):
        w = Window.partitionBy("qid").orderBy(F.desc(score_col), F.asc("id"))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("qid", F.col("id").alias(keep), F.col(score_col))
        )

    p1 = argmax(cand, "qsim", "s1").select(
        "qid", "s1", F.col("qsim").alias("sc1")
    )
    e1 = e.select(F.col("vec_id").alias("s1"), F.col("v").alias("v1"))
    c1 = (
        cand.join(F.broadcast(p1.join(e1, "s1")), "qid")
        .filter(F.col("id") != F.col("s1"))
        .select(
            "qid",
            "id",
            "v",
            "qsim",
            (dot(F.col("v"), F.col("v1")) / (norm(F.col("v")) * norm(F.col("v1")))).alias(
                "sim1"
            ),
        )
        .withColumn("sc2_expr", lam * F.col("qsim") - mu * F.col("sim1"))
    )
    p2 = argmax(c1, "sc2_expr", "s2").select(
        "qid", "s2", F.col("sc2_expr").alias("sc2")
    )
    e2 = e.select(F.col("vec_id").alias("s2"), F.col("v").alias("v2"))
    c2 = (
        c1.join(F.broadcast(p2.join(e2, "s2")), "qid")
        .filter(F.col("id") != F.col("s2"))
        .select(
            "qid",
            "id",
            "qsim",
            "sim1",
            (dot(F.col("v"), F.col("v2")) / (norm(F.col("v")) * norm(F.col("v2")))).alias(
                "sim2"
            ),
        )
        .withColumn(
            "sc3_expr",
            lam * F.col("qsim") - mu * F.greatest(F.col("sim1"), F.col("sim2")),
        )
    )
    p3 = argmax(c2, "sc3_expr", "s3").select(
        "qid", "s3", F.col("sc3_expr").alias("sc3")
    )
    out1 = p1.select(
        F.col("qid").alias("query_id"),
        F.lit(1).cast("long").alias("rank"),
        F.col("s1").alias("neighbor_id"),
        F.round("sc1", 6).alias("mmr_score"),
    )
    out2 = p2.select(
        F.col("qid").alias("query_id"),
        F.lit(2).cast("long").alias("rank"),
        F.col("s2").alias("neighbor_id"),
        F.round("sc2", 6).alias("mmr_score"),
    )
    out3 = p3.select(
        F.col("qid").alias("query_id"),
        F.lit(3).cast("long").alias("rank"),
        F.col("s3").alias("neighbor_id"),
        F.round("sc3", 6).alias("mmr_score"),
    )
    return out1.unionByName(out2).unionByName(out3)


@query(
    "session_duration_bands_by_entry_type",
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
        SELECT user_id, event_id, ts, event_type,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flags
    ),
    per AS (
        SELECT user_id, sid, MIN(ts) AS t0, MAX(ts) AS t1
        FROM sess GROUP BY user_id, sid
    ),
    entry AS (
        SELECT user_id, sid, event_type AS entry_type
        FROM (SELECT user_id, sid, event_type,
                     ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                        ORDER BY ts, event_id) rn
              FROM sess)
        WHERE rn = 1
    ),
    j AS (
        SELECT entry.entry_type,
               CASE WHEN per.t1 - per.t0 < INTERVAL 1 MINUTE THEN 'a_lt_1m'
                    WHEN per.t1 - per.t0 < INTERVAL 5 MINUTE THEN 'b_1_5m'
                    WHEN per.t1 - per.t0 < INTERVAL 15 MINUTE THEN 'c_5_15m'
                    WHEN per.t1 - per.t0 < INTERVAL 30 MINUTE THEN 'd_15_30m'
                    ELSE 'e_ge_30m' END AS duration_band
        FROM per JOIN entry
          ON entry.user_id = per.user_id AND entry.sid = per.sid
    ),
    tc AS (SELECT entry_type AS et, COUNT(*) AS n_type FROM j GROUP BY entry_type)
    SELECT j.entry_type, j.duration_band, COUNT(*) AS n_sessions,
           ROUND(COUNT(*) * 100.0 / tc.n_type, 4) AS share_pct
    FROM j JOIN tc ON tc.et = j.entry_type
    GROUP BY j.entry_type, j.duration_band, tc.n_type
    ORDER BY j.entry_type, j.duration_band
    """,
)
def q_session_duration_bands_by_entry_type(spark, t):
    """Session duration distribution conditioned on HOW the session
    started (entry event type): view-entry sessions that stretch past
    15 minutes behave differently from purchase-entry ones. Duration
    never leaves the timestamp domain — bands are microsecond-exact
    interval comparisons (the one duration arithmetic BOTH engines
    express identically), so no epoch extraction, no truncation.

    Scale shape: lag/cumsum sessionization and the entry-pick window
    all partition by user (sid windows by user+sid), session rollup is
    keyed, and the type-total joins back at the bounded <=5-type
    grain; output <= 25 rows."""
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
    sess = flags.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum("new_sess").over(w_run).alias("sid"),
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    w_entry = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    entry = (
        sess.withColumn("rn", F.row_number().over(w_entry))
        .filter(F.col("rn") == 1)
        .select("user_id", "sid", F.col("event_type").alias("entry_type"))
    )
    dur = F.col("t1") - F.col("t0")
    j = per.join(entry, ["user_id", "sid"]).select(
        "entry_type",
        F.when(dur < F.expr("INTERVAL 1 MINUTES"), "a_lt_1m")
        .when(dur < F.expr("INTERVAL 5 MINUTES"), "b_1_5m")
        .when(dur < F.expr("INTERVAL 15 MINUTES"), "c_5_15m")
        .when(dur < F.expr("INTERVAL 30 MINUTES"), "d_15_30m")
        .otherwise("e_ge_30m")
        .alias("duration_band"),
    )
    tc = j.groupBy("entry_type").agg(F.count(F.lit(1)).alias("n_type"))
    return (
        j.groupBy("entry_type", "duration_band")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .join(F.broadcast(tc), "entry_type")
        .select(
            "entry_type",
            "duration_band",
            "n_sessions",
            F.round(F.col("n_sessions") * 100.0 / F.col("n_type"), 4).alias(
                "share_pct"
            ),
        )
        .orderBy("entry_type", "duration_band")
    )


@query(
    "doc_simhash_bit_balance",
    oracle=r"""
    WITH tok AS (
        SELECT DISTINCT doc_id, t.tok
        FROM documents,
             UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS t(tok)
    ),
    tb AS (
        SELECT doc_id, md5(tok) AS h, b.b
        FROM tok, UNNEST(generate_series(0, 15)) AS b(b)
    ),
    contrib AS (
        SELECT doc_id, b,
               CASE WHEN (CAST(FLOOR((instr('0123456789abcdef',
                              substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
                          / CAST(POW(2, b % 4) AS BIGINT)) AS BIGINT)) % 2 = 1
                    THEN 1 ELSE -1 END AS c
        FROM tb
    ),
    per_bit AS (SELECT doc_id, b, SUM(c) AS s FROM contrib GROUP BY doc_id, b),
    f AS (
        SELECT b, COUNT(*) AS n_docs,
               SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS n_set
        FROM per_bit GROUP BY b
    )
    SELECT CAST(b AS BIGINT) AS bit, n_docs,
           CAST(n_set AS BIGINT) AS n_set,
           ROUND(n_set * 100.0 / n_docs, 4) AS set_pct,
           ROUND(ABS(n_set * 10000.0 / n_docs - 5000), 2) AS abs_dev_bp
    FROM f ORDER BY bit
    """,
)
def q_doc_simhash_bit_balance(spark, t):
    """Per-bit balance of the 16-bit SimHash fingerprints: each bit
    should split the corpus ~50/50; a skewed bit carries less than one
    bit of discriminating power, silently inflating the collision rate
    of simhash_near_duplicates' pigeonhole bands. This is the hash-
    quality audit for the dedup family (doc_shingle_df_skew audits the
    MinHash side's input; this audits the SimHash side's output).

    Scale shape: reuses llmdata.dedup.simhash (map-side codegen,
    partial-combined groupBy), then a 16-wide posexplode of each
    fingerprint and a bounded 16-row rollup.

    Parity: the engine computes bit b from the fingerprint long
    ((simhash >> b) & 1); the oracle recomputes the per-bit +/-1 sums
    — equality holds exactly because the fingerprint bit IS s > 0."""
    from ..llmdata.dedup import simhash

    sh = simhash(t["documents"], "text", "doc_id", bits=16)
    bits = sh.select(
        F.posexplode(
            F.array(
                *[
                    (F.shiftright(F.col("simhash"), b) % 2).cast("int")
                    for b in range(16)
                ]
            )
        ).alias("bit", "is_set")
    )
    return (
        bits.groupBy(F.col("bit").cast("long").alias("bit"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_set").cast("long").alias("n_set"),
        )
        .select(
            "bit",
            "n_docs",
            "n_set",
            F.round(F.col("n_set") * 100.0 / F.col("n_docs"), 4).alias(
                "set_pct"
            ),
            F.round(
                F.abs(F.col("n_set") * 10000.0 / F.col("n_docs") - 5000), 2
            ).alias("abs_dev_bp"),
        )
        .orderBy("bit")
    )


@query(
    "order_value_priority_weekend_anova2",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority AS pri,
               CASE WHEN CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-05'
                         AS BIGINT) % 7 IN (5, 6)
                    THEN 1 ELSE 0 END AS wk,
               {O_CENTS} AS y
        FROM orders
    ),
    cells AS (
        SELECT pri, wk, COUNT(*) AS n,
               SUM(CAST(y AS DECIMAL(38,0))) AS s,
               SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS ss
        FROM base GROUP BY pri, wk
    ),
    tot AS (SELECT SUM(n) AS n, SUM(s) AS s, SUM(ss) AS ss,
                   COUNT(*) AS ncells,
                   COUNT(DISTINCT pri) AS npri,
                   COUNT(DISTINCT wk) AS nwk
            FROM cells),
    parts AS (
        SELECT
            (SELECT SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
             FROM (SELECT pri, SUM(n) AS n, SUM(s) AS s
                   FROM cells GROUP BY pri)) AS qa,
            (SELECT SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
             FROM (SELECT wk, SUM(n) AS n, SUM(s) AS s
                   FROM cells GROUP BY wk)) AS qb,
            (SELECT SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
             FROM cells) AS qc,
            CAST(tot.ss AS DOUBLE) AS qt,
            CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE) / tot.n AS q0,
            tot.n AS n,
            tot.npri - 1 AS dfa,
            tot.nwk - 1 AS dfb,
            tot.ncells - tot.npri - tot.nwk + 1 AS dfi,
            tot.n - tot.ncells AS dfe
        FROM tot
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           ROUND(((qa - q0) / dfa) / ((qt - qc) / dfe), 4) AS f_priority,
           ROUND(((qb - q0) / dfb) / ((qt - qc) / dfe), 4) AS f_weekend,
           ROUND(((qc - qa - qb + q0) / dfi) / ((qt - qc) / dfe), 4)
               AS f_interaction,
           ROUND((qc - q0) / (qt - q0), 6) AS eta2_cells
    FROM parts
    """,
)
def q_order_value_priority_weekend_anova2(spark, t):
    """Two-way ANOVA of order value on priority (5 levels) x weekend
    (2 levels) with interaction: F statistics for both main effects
    and the cells remainder, plus the cells eta-squared. Answers "does
    the weekend value shift depend on priority" — the interaction
    question the one-way cuts (weekend_order_share_by_segment,
    order_priority_value_quantiles) cannot ask. Weighted (Type-I
    style) decomposition: under imbalance the interaction term is the
    cells remainder QC - QA - QB + Q0 and can be small or negative —
    documented diagnostic semantics, not a balanced-design claim.
    Degrees of freedom are DERIVED from the observed design on both
    engines (df_pri = npri-1, df_wk = nwk-1, df_inter =
    ncells-npri-nwk+1, df_err = n-ncells, all from the cells rollup),
    so a data slice with an empty priority x weekend cell still gets
    the right F denominators (ADVICE-r8 fix; on the full grid this is
    the previous 4/1/4/n-10).

    Scale shape: ONE 10-cell rollup over the fact with DECIMAL(38,0)
    sum and sum-of-squares accumulators (exact far past 2^63 — the
    ADVICE-r7 lesson); every quotient is computed from those 10 exact
    cells in scalar projections. No row-order float accumulation
    anywhere."""
    dec = "decimal(38,0)"
    dow = (
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-05").cast("date")
        ).cast("long")
        % 7
    )
    y = F.round(F.col("o_totalprice") * 100).cast("long")
    base = t["orders"].select(
        F.col("o_orderpriority").alias("pri"),
        F.when(dow.isin(5, 6), 1).otherwise(0).alias("wk"),
        y.alias("y"),
    )
    cells = base.groupBy("pri", "wk").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast(dec)).alias("s"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("ss"),
    )
    sd = F.col("s").cast("double")
    qa = (
        cells.groupBy("pri")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .agg(F.sum(sd * sd / F.col("n")).alias("qa"))
    )
    qb = (
        cells.groupBy("wk")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .agg(F.sum(sd * sd / F.col("n")).alias("qb"))
    )
    qc = cells.agg(F.sum(sd * sd / F.col("n")).alias("qc"))
    tot = cells.agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("st"),
        F.sum("ss").alias("sst"),
        F.count(F.lit(1)).alias("ncells"),
        F.countDistinct("pri").alias("npri"),
        F.countDistinct("wk").alias("nwk"),
    )
    parts = (
        tot.crossJoin(F.broadcast(qa))
        .crossJoin(F.broadcast(qb))
        .crossJoin(F.broadcast(qc))
        .select(
            F.col("n"),
            F.col("qa"),
            F.col("qb"),
            F.col("qc"),
            F.col("sst").cast("double").alias("qt"),
            (
                F.col("st").cast("double")
                * F.col("st").cast("double")
                / F.col("n")
            ).alias("q0"),
            (F.col("npri") - 1).alias("dfa"),
            (F.col("nwk") - 1).alias("dfb"),
            (F.col("ncells") - F.col("npri") - F.col("nwk") + 1).alias(
                "dfi"
            ),
            (F.col("n") - F.col("ncells")).alias("dfe"),
        )
    )
    err = (F.col("qt") - F.col("qc")) / F.col("dfe")
    return parts.select(
        F.col("n").cast("long").alias("n_orders"),
        F.round(((F.col("qa") - F.col("q0")) / F.col("dfa")) / err, 4).alias(
            "f_priority"
        ),
        F.round(((F.col("qb") - F.col("q0")) / F.col("dfb")) / err, 4).alias(
            "f_weekend"
        ),
        F.round(
            ((F.col("qc") - F.col("qa") - F.col("qb") + F.col("q0")) / F.col("dfi"))
            / err,
            4,
        ).alias("f_interaction"),
        F.round(
            (F.col("qc") - F.col("q0")) / (F.col("qt") - F.col("q0")), 6
        ).alias("eta2_cells"),
    )


@query(
    "customer_first_order_size_cohorts",
    oracle=f"""
    WITH seq AS (
        SELECT o_custkey, cents,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM (SELECT o_custkey, o_orderdate, o_orderkey,
                     {O_CENTS} AS cents FROM orders)
    ),
    per AS (
        SELECT o_custkey,
               MAX(CASE WHEN rn = 1 THEN cents END) AS first_cents,
               COUNT(*) AS n_orders,
               SUM(cents) AS total_cents
        FROM seq GROUP BY o_custkey
    )
    SELECT CAST(length(CAST(first_cents AS STRING)) AS BIGINT)
               AS first_order_digits,
           COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repeat,
           ROUND(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 100.0
                 / COUNT(*), 4) AS repeat_pct,
           ROUND(SUM(total_cents - first_cents) * 1.0 / COUNT(*), 2)
               AS avg_future_cents,
           ROUND(SUM(n_orders) * 1.0 / COUNT(*), 4) AS avg_orders
    FROM per GROUP BY length(CAST(first_cents AS STRING))
    ORDER BY first_order_digits
    """,
)
def q_customer_first_order_size_cohorts(spark, t):
    """Does the SIZE of a customer's first order predict their future?
    Cohorts by first-order value magnitude (decimal digits — exact
    integer band edges, the peak90d banding discipline) against repeat
    rate, average future spend (total minus the first order), and
    order depth. cohort_retention cuts by first-order TIME; this cuts
    by first-order SIZE — the acquisition-quality read.

    Scale shape: one o_custkey window (first-order pick) sharing its
    partitioning with the per-customer rollup, then a bounded <=10-row
    digit-band rollup; every ratio divides exact BIGINTs."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = t["orders"].select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
    )
    per = seq.groupBy("o_custkey").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cents"))).alias("first_cents"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
    )
    rep = F.when(F.col("n_orders") >= 2, 1).otherwise(0)
    return (
        per.groupBy(
            F.length(F.col("first_cents").cast("string"))
            .cast("long")
            .alias("first_order_digits")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(rep).cast("long").alias("n_repeat"),
            F.round(F.sum(rep) * 100.0 / F.count(F.lit(1)), 4).alias(
                "repeat_pct"
            ),
            F.round(
                F.sum(F.col("total_cents") - F.col("first_cents"))
                * 1.0
                / F.count(F.lit(1)),
                2,
            ).alias("avg_future_cents"),
            F.round(F.sum("n_orders") * 1.0 / F.count(F.lit(1)), 4).alias(
                "avg_orders"
            ),
        )
        .orderBy("first_order_digits")
    )


@query(
    "part_active_span_revenue_rate",
    oracle="""
    WITH pr AS (
        SELECT l_partkey,
               MIN(CAST(l_shipdate AS DATE)) AS d0,
               MAX(CAST(l_shipdate AS DATE)) AS d1,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                   AS BIGINT)) AS cents,
               COUNT(*) AS n_lines
        FROM lineitem GROUP BY l_partkey
    ),
    b AS (
        SELECT CAST(d1 - d0 AS BIGINT) + 1 AS span_days, cents, n_lines
        FROM pr
    )
    SELECT CAST(FLOOR((span_days - 1) * 1.0 / 365) AS BIGINT)
               AS span_years_band,
           COUNT(*) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           ROUND(SUM(cents) * 1.0 / SUM(span_days), 2)
               AS pooled_cents_per_day,
           ROUND(SUM(n_lines) * 1.0 / COUNT(*), 4) AS avg_lines
    FROM b GROUP BY CAST(FLOOR((span_days - 1) * 1.0 / 365) AS BIGINT)
    ORDER BY span_years_band
    """,
)
def q_part_active_span_revenue_rate(spark, t):
    """Catalog lifecycle: each part's active shipping span (first to
    last shipdate) banded in years, with the band's pooled revenue
    velocity (cents per active day). Short-span parts with high
    velocity are seasonal hits; long-span low-velocity parts are
    long-tail stock — the assortment read part_revenue_gini's
    concentration number cannot localize.

    Scale shape: ONE part-grain min/max/sum rollup on the fact scan,
    then a bounded <=8-row year-band rollup; the velocity is a pooled
    exact-BIGINT ratio (never an order-dependent float sum of per-part
    rates)."""
    pr = t["lineitem"].groupBy("l_partkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("d0"),
        F.max(F.col("l_shipdate").cast("date")).alias("d1"),
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).alias("cents"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    b = pr.select(
        (F.datediff("d1", "d0").cast("long") + 1).alias("span_days"),
        "cents",
        "n_lines",
    )
    return (
        b.groupBy(
            F.floor((F.col("span_days") - 1) * 1.0 / 365)
            .cast("long")
            .alias("span_years_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.round(F.sum("cents") * 1.0 / F.sum("span_days"), 2).alias(
                "pooled_cents_per_day"
            ),
            F.round(F.sum("n_lines") * 1.0 / F.count(F.lit(1)), 4).alias(
                "avg_lines"
            ),
        )
        .orderBy("span_years_band")
    )
