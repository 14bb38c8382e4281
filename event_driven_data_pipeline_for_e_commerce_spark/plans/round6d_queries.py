"""Round-6-staged corpus additions, part 4: dedup keeper-quality
contract (does canonical selection keep the best copy), sessionized
entry-type conversion (which first touch converts), hourly arrival
dispersion (Poisson overdispersion screen), and embedding dimension
correlation pairs (whitening/PCA redundancy diagnostics).

Parity rules: composed oracles embed registered oracle SQL verbatim
(recursive CTEs wrapped as FROM-subqueries); quality deltas are e4
integers derived from already-rounded scores; signed integer averages
use CAST(FLOOR(a / b) AS BIGINT) on BOTH engines (floor semantics for
negatives — Spark's integral DIV truncates toward zero, so it is NOT
used where deltas can be negative); dispersion/correlation floats are
single fixed-order derivations from exact integer or one-pass moment
sums, rounded to 4 decimals with id tie-breaks before any rank cut.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from event_driven_data_pipeline_for_e_commerce_spark.operators.partitioning import (
    ensure_parallelism,
)

from .corpus import ORACLES, QUERIES, query


@query(
    "doc_dedup_keeper_quality_delta",
    oracle=None,  # composed below from the cluster + quality oracles
)
def q_doc_dedup_keeper_quality_delta(spark, t):
    """Dedup keeper-quality contract: within every non-singleton
    duplicate cluster, compare the canonical survivor's quality score
    against the best NON-kept member — min-doc-id keeper policies are
    cheap but can discard the cleanest copy; this query measures how
    often and by how much (the evidence for switching to
    quality-ranked keeper selection).

    Parity: quality_score arrives 4-decimal-rounded from the
    registered scorer, so e4 integers are exact; the signed average
    gap uses FLOOR on both engines (DIV truncates negatives).
    Scale shape: both inputs are registered corpus pipelines; this
    adds one cluster-grain aggregation and a 1-row rollup."""
    clusters = QUERIES["doc_dup_clusters"](spark, t.sf_dir)
    quality = QUERIES["doc_quality_scores"](spark, t.sf_dir).select(
        "doc_id", (F.round(F.col("quality_score") * 10000)).cast("long").alias("q_e4")
    )
    m = clusters.join(quality, "doc_id")
    per_cluster = (
        m.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("is_canonical"), F.col("q_e4"))).alias(
                "keeper_e4"
            ),
            F.max(F.when(~F.col("is_canonical"), F.col("q_e4"))).alias(
                "best_other_e4"
            ),
        )
        .filter(F.col("n_members") > 1)
    )
    return per_cluster.agg(
        F.count(F.lit(1)).alias("n_dup_clusters"),
        F.sum(
            F.when(F.col("keeper_e4") >= F.col("best_other_e4"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_keeper_best"),
        F.expr(
            "CAST(FLOOR(SUM(CASE WHEN keeper_e4 >= best_other_e4 THEN 1"
            " ELSE 0 END) * 10000 / COUNT(*)) AS BIGINT)"
        ).alias("keeper_best_bp"),
        F.expr(
            "CAST(FLOOR(SUM(keeper_e4 - best_other_e4) * 1.0 / COUNT(*))"
            " AS BIGINT)"
        ).alias("avg_gap_e4"),
    )


ORACLES["doc_dedup_keeper_quality_delta"] = f"""
    WITH cl AS (SELECT * FROM ({ORACLES["doc_dup_clusters"]}) c),
    q AS (
        SELECT doc_id,
               CAST(ROUND(quality_score * 10000) AS BIGINT) AS q_e4
        FROM ({ORACLES["doc_quality_scores"]}) s
    ),
    per_cluster AS (
        SELECT cl.cluster_id,
               COUNT(*) AS n_members,
               MAX(CASE WHEN cl.is_canonical THEN q.q_e4 END) AS keeper_e4,
               MAX(CASE WHEN NOT cl.is_canonical THEN q.q_e4 END)
                   AS best_other_e4
        FROM cl JOIN q ON q.doc_id = cl.doc_id
        GROUP BY cl.cluster_id
        HAVING COUNT(*) > 1
    )
    SELECT COUNT(*) AS n_dup_clusters,
           CAST(SUM(CASE WHEN keeper_e4 >= best_other_e4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keeper_best,
           CAST(FLOOR(SUM(CASE WHEN keeper_e4 >= best_other_e4 THEN 1
                           ELSE 0 END) * 10000 / COUNT(*)) AS BIGINT)
               AS keeper_best_bp,
           CAST(FLOOR(SUM(keeper_e4 - best_other_e4) * 1.0 / COUNT(*))
                AS BIGINT) AS avg_gap_e4
    FROM per_cluster
    """


@query(
    "session_entry_conversion",
    oracle="""
    WITH ev AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM ev
    ),
    ranked AS (
        SELECT user_id, sid, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, sid ORDER BY ts, event_id
               ) AS rn
        FROM sess
    ),
    per AS (
        SELECT user_id, sid,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS has_purchase
        FROM sess GROUP BY user_id, sid
    )
    SELECT r.event_type AS entry_type,
           COUNT(*) AS n_sessions,
           CAST(SUM(p.has_purchase) AS BIGINT) AS purchase_sessions,
           CAST(FLOOR(SUM(p.has_purchase) * 10000 / COUNT(*)) AS BIGINT)
               AS conversion_bp
    FROM ranked r
    JOIN per p ON p.user_id = r.user_id AND p.sid = r.sid
    WHERE r.rn = 1
    GROUP BY r.event_type
    """,
)
def q_session_entry_conversion(spark, t):
    """Entry-touch conversion: sessions (30-min gap islands, the
    session_conversion_stats machinery) keyed by their FIRST event
    type — does a session that opens with a view convert better than
    one that opens with a click — the landing-experience KPI behind
    acquisition-channel ranking.

    Scale shape: all three windows are partitioned by user (one key
    shuffle reused); entry pick is a rank-1 filter, never a sort of
    the whole stream; the rollup is a 4-group exact-integer aggregate.
    """
    sess = (
        t["events"]
        .filter(F.col("user_id").isNotNull())
        .withColumn(
            "prev_ts",
            F.expr("LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)"),
        )
        .withColumn(
            "new_s",
            F.when(
                F.col("prev_ts").isNull()
                | F.expr("ts > prev_ts + INTERVAL 30 MINUTE"),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sid",
            F.expr(
                "SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id"
                " ROWS UNBOUNDED PRECEDING)"
            ),
        )
    )
    entry = (
        sess.withColumn(
            "rn",
            F.expr(
                "ROW_NUMBER() OVER (PARTITION BY user_id, sid"
                " ORDER BY ts, event_id)"
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "sid", F.col("event_type").alias("entry_type"))
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("has_purchase")
    )
    return (
        entry.join(per, ["user_id", "sid"])
        .groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("has_purchase").cast("bigint").alias("purchase_sessions"),
            F.expr(
                "CAST(FLOOR(SUM(has_purchase) * 10000 / COUNT(*)) AS BIGINT)"
            ).alias("conversion_bp"),
        )
    )


@query(
    "event_hourly_dispersion",
    oracle="""
    WITH buckets AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               EXTRACT(HOUR FROM ts) AS hour,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2, 3
    ),
    m AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(c) AS BIGINT) AS total,
               CAST(SUM(c * c) AS BIGINT) AS total_sq
        FROM buckets GROUP BY event_type
    )
    SELECT event_type, n AS n_buckets, total AS n_events,
           ROUND(total * 1.0 / n, 4) AS mean_per_hour,
           -- sample variance / mean from exact integer sums, one
           -- fixed-order float derivation (Poisson => ~1.0)
           ROUND(((total_sq - total * 1.0 * total / n) / (n - 1))
                 / (total * 1.0 / n), 4) AS dispersion_index
    FROM m
    """,
)
def q_event_hourly_dispersion(spark, t):
    """Arrival-process overdispersion screen: per event type, the
    variance-to-mean ratio of hourly arrival counts — 1.0 means
    Poisson (memoryless load, safe to autoscale on averages), >> 1
    means bursty arrivals that size queues and watermark slack
    (complements event_volume_anomalies' z-scores and
    user_peak_event_rate's per-user peaks).

    Parity: counts aggregate to exact BIGINT sums (map-side partial);
    the dispersion index is ONE fixed-order float expression over
    those scalars — no float merge-order sensitivity."""
    buckets = t["events"].groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.hour("ts").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("c"))
    m = buckets.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("bigint").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("total_sq"),
    )
    return m.select(
        "event_type",
        F.col("n").alias("n_buckets"),
        F.col("total").alias("n_events"),
        F.round(F.col("total") * 1.0 / F.col("n"), 4).alias("mean_per_hour"),
        F.round(
            (
                (F.col("total_sq") - F.col("total") * 1.0 * F.col("total") / F.col("n"))
                / (F.col("n") - 1)
            )
            / (F.col("total") * 1.0 / F.col("n")),
            4,
        ).alias("dispersion_index"),
    )


CORR_TOPK = 20


@query(
    "emb_dim_correlation_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pos AS (
        SELECT vec_id, u.i AS i, v[u.i] AS x
        FROM e, UNNEST(generate_series(1, len(v))) AS u(i)
    ),
    pairs AS (
        SELECT a.i AS dim_i, b.i AS dim_j,
               COUNT(*) AS n,
               SUM(a.x) AS sx, SUM(b.x) AS sy,
               SUM(a.x * a.x) AS sxx, SUM(b.x * b.x) AS syy,
               SUM(a.x * b.x) AS sxy
        FROM pos a JOIN pos b ON b.vec_id = a.vec_id AND b.i > a.i
        GROUP BY a.i, b.i
    )
    SELECT CAST(dim_i AS BIGINT) AS dim_i, CAST(dim_j AS BIGINT) AS dim_j,
           ROUND((n * sxy - sx * sy)
                 / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)),
                 4) AS corr
    FROM pairs
    ORDER BY ABS(ROUND((n * sxy - sx * sy)
                 / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)),
                 4)) DESC, dim_i, dim_j
    LIMIT {CORR_TOPK}
    """,
)
def q_emb_dim_correlation_pairs(spark, t):
    """Embedding-dimension redundancy diagnostics: the top-20 most
    correlated dimension pairs by |Pearson r| — highly correlated
    dims mean the embedding wastes capacity and PCA/whitening (the
    registered top-PC and reconstruction-error contracts) will pay
    off; near-zero everywhere means the space is already isotropic.

    Determinism: the rank cut orders by the ROUNDED |r| with (i, j)
    tie-breaks, so a 1e-13 float-merge wiggle cannot reorder the
    boundary. Scale shape: one posexplode + a vec_id-keyed self-join
    bounded at dims^2/2 rows per vector (dims fixed at 64), then a
    2016-group moment aggregate — corpus-linear, no all-pairs over
    rows."""
    e = ensure_parallelism(t["embeddings"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # posexplode is 0-based; +1 matches the oracle's 1-based UNNEST index
    pos = e.select("vec_id", F.posexplode("v").alias("i0", "x")).select(
        "vec_id", (F.col("i0") + 1).alias("i"), "x"
    )
    a = pos.select("vec_id", F.col("i").alias("dim_i"), F.col("x").alias("xa"))
    b = pos.select("vec_id", F.col("i").alias("dim_j"), F.col("x").alias("xb"))
    pairs = (
        a.join(b, "vec_id")
        .filter(F.col("dim_j") > F.col("dim_i"))
        .groupBy("dim_i", "dim_j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xa").alias("sx"),
            F.sum("xb").alias("sy"),
            F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
            F.sum(F.col("xb") * F.col("xb")).alias("syy"),
            F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
        )
    )
    corr = F.round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (
            F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        ),
        4,
    )
    return (
        pairs.select(
            F.col("dim_i").cast("bigint").alias("dim_i"),
            F.col("dim_j").cast("bigint").alias("dim_j"),
            corr.alias("corr"),
        )
        .orderBy(F.abs(F.col("corr")).desc(), "dim_i", "dim_j")
        .limit(CORR_TOPK)
    )


LEAD_TIME_MIN_LINES = 5
LEAD_TIME_TOPK = 20


@query(
    "supplier_lead_time_consistency",
    oracle=f"""
    WITH d AS (
        SELECT l.l_suppkey,
               CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
                    AS BIGINT) AS slack_days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    m AS (
        SELECT l_suppkey,
               COUNT(*) AS n,
               CAST(SUM(slack_days) AS BIGINT) AS s1,
               CAST(SUM(slack_days * slack_days) AS BIGINT) AS s2
        FROM d GROUP BY l_suppkey
        HAVING COUNT(*) >= {LEAD_TIME_MIN_LINES}
    )
    SELECT l_suppkey, n AS n_lines,
           ROUND(s1 * 1.0 / n, 4) AS mean_slack_days,
           ROUND((s2 - s1 * 1.0 * s1 / n) / (n - 1), 4) AS var_slack_days
    FROM m
    ORDER BY ROUND((s2 - s1 * 1.0 * s1 / n) / (n - 1), 4) DESC, l_suppkey
    LIMIT {LEAD_TIME_TOPK}
    """,
)
def q_supplier_lead_time_consistency(spark, t):
    """Supplier reliability triage: the 20 suppliers with the most
    VARIABLE order-to-ship slack — a supplier can have a fine average
    lead time and still wreck planning if its variance is huge (the
    consistency cut that mean-based scorecards like supplier_scorecard
    and lead_time_trend_by_nation can't see).

    Parity: slack days are exact integers (date diff), so the moment
    sums are exact BIGINTs; mean/variance are single fixed-order float
    derivations and the rank cut orders by the ROUNDED variance with a
    supplier tie-break. Scale shape: one fact-fact key join, one keyed
    partial-agg, then TakeOrdered 20."""
    d = (
        ensure_parallelism(t["lineitem"])
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_suppkey",
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            .cast("bigint")
            .alias("slack_days"),
        )
    )
    m = (
        d.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("slack_days").cast("bigint").alias("s1"),
            F.sum(F.col("slack_days") * F.col("slack_days"))
            .cast("bigint")
            .alias("s2"),
        )
        .filter(F.col("n") >= LEAD_TIME_MIN_LINES)
    )
    var_ = F.round(
        (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("n"))
        / (F.col("n") - 1),
        4,
    )
    return (
        m.select(
            "l_suppkey",
            F.col("n").alias("n_lines"),
            F.round(F.col("s1") * 1.0 / F.col("n"), 4).alias(
                "mean_slack_days"
            ),
            var_.alias("var_slack_days"),
        )
        .orderBy(F.desc("var_slack_days"), "l_suppkey")
        .limit(LEAD_TIME_TOPK)
    )


@query(
    "same_nation_trade_lift",
    oracle="""
    WITH base AS (
        SELECT c.c_nationkey AS cn, s.s_nationkey AS sn
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
    ),
    tot AS (
        SELECT COUNT(*) AS t,
               CAST(SUM(CASE WHEN cn = sn THEN 1 ELSE 0 END) AS BIGINT)
                   AS same_n
        FROM base
    ),
    cd AS (SELECT cn AS nk, COUNT(*) AS c_n FROM base GROUP BY cn),
    sd AS (SELECT sn AS nk, COUNT(*) AS s_n FROM base GROUP BY sn),
    exp_ AS (
        SELECT CAST(SUM(cd.c_n * sd.s_n) AS BIGINT) AS cross_mass
        FROM cd JOIN sd ON sd.nk = cd.nk
    )
    SELECT t.t AS n_lines,
           t.same_n AS same_nation_lines,
           CAST(FLOOR(t.same_n * 10000.0 / t.t) AS BIGINT) AS observed_bp,
           CAST(FLOOR(e.cross_mass * 10000.0 / (t.t * 1.0 * t.t)) AS BIGINT)
               AS expected_bp,
           ROUND((t.same_n * 1.0 / t.t)
                 / (e.cross_mass * 1.0 / (t.t * 1.0 * t.t)), 4) AS lift
    FROM tot t CROSS JOIN exp_ e
    """,
)
def q_same_nation_trade_lift(spark, t):
    """Home-bias lift: the share of line items where the customer's
    and supplier's nations match, against the share independence
    would predict from the two marginal nation distributions — lift
    >> 1 quantifies local-supplier preference beyond what nation
    sizes alone explain (the statistical upgrade of
    q5_local_supplier_volume's raw same-nation revenue).

    Parity: all masses are exact BIGINT counts; the two shares and the
    lift are single fixed-order float derivations from those scalars.
    Scale shape: one fact-fact key join plus two broadcast dims; the
    marginals and the 25-row expectation join are nation-grain."""
    base = (
        ensure_parallelism(t["lineitem"])
        .select("l_orderkey", "l_suppkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(F.col("c_nationkey").alias("cn"), F.col("s_nationkey").alias("sn"))
    )
    from ..operators.pinning import pin

    base = pin(base)
    tot = base.agg(
        F.count(F.lit(1)).alias("t"),
        F.sum(F.when(F.col("cn") == F.col("sn"), 1).otherwise(0))
        .cast("bigint")
        .alias("same_n"),
    )
    cd = base.groupBy(F.col("cn").alias("nk")).agg(F.count(F.lit(1)).alias("c_n"))
    sd = base.groupBy(F.col("sn").alias("nk")).agg(F.count(F.lit(1)).alias("s_n"))
    exp_ = (
        cd.join(sd, "nk")
        .agg(F.sum(F.col("c_n") * F.col("s_n")).cast("bigint").alias("cross_mass"))
    )
    return (
        tot.crossJoin(exp_)
        .select(
            F.col("t").alias("n_lines"),
            F.col("same_n").alias("same_nation_lines"),
            F.expr("CAST(FLOOR(same_n * 10000.0 / t) AS BIGINT)").alias(
                "observed_bp"
            ),
            F.expr(
                "CAST(FLOOR(cross_mass * 10000.0 / (t * 1.0 * t)) AS BIGINT)"
            ).alias("expected_bp"),
            F.round(
                (F.col("same_n") * 1.0 / F.col("t"))
                / (F.col("cross_mass") * 1.0 / (F.col("t") * 1.0 * F.col("t"))),
                4,
            ).alias("lift"),
        )
    )
