"""Round-10-staged corpus additions, part 2 (registered in round 9,
positions 62+): binary-segmentation changepoint on daily revenue, a
Laspeyres quarterly price index, a two-group log-rank survival test,
the quality-vs-duplication AUC, and a Kolmogorov-Smirnov
exponentiality test of repeat-purchase gaps.

Reference anchors: the dashboard's monthly trend line (app.py:281-284)
gets its changepoint locator and its inflation-adjusted price index;
the customer tab's repurchase KPIs (app.py:341-420) get the censored
two-group significance test (log-rank) and the interarrival
distribution test the naive "average gap" number hides.

Determinism levers: exact BIGINT cents/counts, DECIMAL(38,0) moment
pools, per-row ROUND(x*1e9) BIGINT integerization before any
float-accumulating sum, and ``running_sum_ranged`` for every global
prefix that would otherwise be a one-task window over unbounded
grain.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..functions.money import O_CENTS, o_cents
from ..operators.cumulative import running_sum_ranged
from ..operators.pinning import pin
from .corpus import ORACLES, QUERIES, query  # noqa: F401


# Exact changepoint argmax (ADVICE-r10): the split objective
# q = s1^2/n1 + (s-s1)^2/(n-n1) is ranked WITHOUT any double
# arithmetic.  s1 and s (exact DECIMAL(38,0) cent sums) are
# floor-truncated to the top _BS_SIG significant digit positions of
# the grand total via the portable LPAD/SUBSTR string lever (exact
# integer floor-division by 10^sc on BOTH engines), and candidates
# are compared as exact rationals by cross-multiplication:
# q_i > q_j  <=>  nm_i^2 * dd_j > nm_j^2 * dd_i, where
# nm = n*s1' - n1*s' (the between-groups numerator, descaled) and
# dd = n1*(n-n1).  Widths: the day grain is calendar-bounded
# (TPC-H order dates span ~2.4k days at EVERY SF, enforced by the
# DECIMAL(5,0) casts failing loudly past 99,999 days), so
# |nm| <= n*10^12 < 2.5e15 -> nm^2 < 6.2e30 (DECIMAL(31,0)) and
# dd < 1.5e6 (DECIMAL(7,0)); every cross product fits DECIMAL(38,0)
# exactly.  Candidates whose objectives agree to better than one
# part in ~1e12 of the grand total resolve by the EXACT earliest-day
# tie-break — identically on both engines, at any scale, because the
# ranking never touches a double (the r9 ROUND(q) key was the
# identity above 2^53 and inherited cross-engine ULP noise).
_BS_SIG = 12


# --------------------------------------------------------------------------
# 1. Binary-segmentation changepoint on daily revenue
# --------------------------------------------------------------------------

@query(
    "daily_revenue_best_split",
    oracle=f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day, SUM({O_CENTS}) AS cents
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(cents AS DECIMAL(38,0))) AS s,
               SUM(CAST(cents AS DECIMAL(38,0))
                   * CAST(cents AS DECIMAL(38,0))) AS ss,
               GREATEST(0, LENGTH(CAST(SUM(CAST(cents AS DECIMAL(38,0)))
                                       AS STRING)) - {_BS_SIG}) AS sc
        FROM d
    ),
    pre AS (
        SELECT day,
               SUM(CAST(cents AS DECIMAL(38,0))) OVER (
                   ORDER BY day ROWS UNBOUNDED PRECEDING) AS s1,
               ROW_NUMBER() OVER (ORDER BY day) AS n1
        FROM d
    ),
    cand AS (
        SELECT day, n1, s1, tot.n, tot.s, tot.ss,
               CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1
                   + (CAST(tot.s AS DOUBLE) - CAST(s1 AS DOUBLE))
                     * (CAST(tot.s AS DOUBLE) - CAST(s1 AS DOUBLE))
                     / (tot.n - n1) AS q,
               CAST(tot.n AS DECIMAL(5,0))
                   * CAST(SUBSTR(LPAD(CAST(s1 AS STRING), 40, '0'),
                                 1, 40 - tot.sc) AS DECIMAL(13,0))
                 - CAST(n1 AS DECIMAL(5,0))
                   * CAST(SUBSTR(LPAD(CAST(tot.s AS STRING), 40, '0'),
                                 1, 40 - tot.sc) AS DECIMAL(13,0)) AS nm,
               CAST(n1 * (tot.n - n1) AS DECIMAL(7,0)) AS dd
        FROM pre, tot WHERE n1 < tot.n
    ),
    obj AS (
        SELECT day, n1, s1, n, s, ss, q,
               CAST(CAST(nm AS DECIMAL(19,0)) * CAST(nm AS DECIMAL(19,0))
                    AS DECIMAL(31,0)) AS nn2, dd
        FROM cand
    ),
    best AS (
        SELECT c.* FROM obj c
        WHERE NOT EXISTS (
            SELECT 1 FROM obj j
            WHERE j.nn2 * c.dd > c.nn2 * j.dd
               OR (j.nn2 * c.dd = c.nn2 * j.dd AND j.day < c.day))
    )
    SELECT day AS split_day,
           CAST(n1 AS BIGINT) AS n_left,
           CAST(n - n1 AS BIGINT) AS n_right,
           ROUND(CAST(s1 AS DOUBLE) / n1, 2) AS mean_left_cents,
           ROUND((CAST(s AS DOUBLE) - CAST(s1 AS DOUBLE)) / (n - n1), 2)
               AS mean_right_cents,
           ROUND((q - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                 / ((CAST(ss AS DOUBLE) - q) / (n - 2)), 4) AS f_stat
    FROM best
    """,
)
def q_daily_revenue_best_split(spark, t):
    """Binary-segmentation changepoint: the single day boundary that
    best splits the daily-revenue series into two constant-mean
    segments (maximum between-segment sum of squares), with the
    segment means and the F statistic of the split.
    daily_revenue_cusum_drift accumulates evidence that SOME change
    happened; this names the day. The F is diagnostic (selection
    inflates it — stated), but the argmax day and means are exact.

    Scale shape: ONE day-grain rollup over the fact; prefix sums,
    the objective, and the argmax all run on the CALENDAR-BOUNDED
    day frame (~2.4k rows — allowlisted bounded window). Prefix sums
    accumulate in DECIMAL(38,0), and the argmax is an EXACT integer
    pairwise-rational comparison (see the _BS_SIG note above): the
    between-groups numerator is descaled to 12 significant digits of
    the grand total by portable string truncation, squared, and
    candidates are compared cross-multiplied in DECIMAL(38,0) — no
    double anywhere in the ranking, so cross-engine ULP noise cannot
    flip the winner at ANY scale (ADVICE-r10: the former
    ROUND(q)-to-DECIMAL key was the identity above 2^53 and still
    inherited ULP differences); objectives closer than ~1e-12
    relative resolve by the exact earliest-day tie-break on both
    engines. The argmax itself is a broadcast anti-join of the
    bounded candidate frame against itself (~2.4k x 2.4k integer
    comparisons, calendar-bounded forever)."""
    dec = "decimal(38,0)"
    d = t["orders"].groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(o_cents()).alias("cents"))
    tot = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast(dec)).alias("s"),
        F.sum(F.col("cents").cast(dec) * F.col("cents").cast(dec)).alias(
            "ss"
        ),
    ).withColumn(
        "sc",
        F.greatest(
            F.lit(0), F.length(F.col("s").cast("string")) - _BS_SIG
        ),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = d.select(
        "day",
        F.sum(F.col("cents").cast(dec)).over(w).alias("s1"),
        F.row_number().over(Window.orderBy("day")).alias("n1"),
    )
    s1d = F.col("s1").cast("double")
    sd = F.col("s").cast("double")

    def _tr(col: str):
        # exact floor-division of the DECIMAL(38,0) sum by 10^sc:
        # keep the top (40 - sc) zero-padded digit positions
        return F.expr(
            f"CAST(SUBSTR(LPAD(CAST({col} AS STRING), 40, '0'), "
            "1, 40 - sc) AS DECIMAL(13,0))"
        )

    nm = (
        F.col("n").cast("decimal(5,0)") * _tr("s1")
        - F.col("n1").cast("decimal(5,0)") * _tr("s")
    )
    obj = pin(
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("n1") < F.col("n"))
        .select(
            "day",
            "n1",
            "s1",
            "n",
            "s",
            "ss",
            (
                s1d * s1d / F.col("n1")
                + (sd - s1d) * (sd - s1d) / (F.col("n") - F.col("n1"))
            ).alias("q"),
            (nm * nm).cast("decimal(31,0)").alias("nn2"),
            (F.col("n1") * (F.col("n") - F.col("n1")))
            .cast("decimal(7,0)")
            .alias("dd"),
        )
    )
    rival = obj.select(
        F.col("day").alias("j_day"),
        F.col("nn2").alias("j_nn2"),
        F.col("dd").alias("j_dd"),
    )
    beats = (
        F.col("j_nn2") * F.col("dd") > F.col("nn2") * F.col("j_dd")
    ) | (
        (F.col("j_nn2") * F.col("dd") == F.col("nn2") * F.col("j_dd"))
        & (F.col("j_day") < F.col("day"))
    )
    best = obj.join(F.broadcast(rival), beats, "left_anti")
    ssd = F.col("ss").cast("double")
    return best.select(
        F.col("day").alias("split_day"),
        F.col("n1").cast("long").alias("n_left"),
        (F.col("n") - F.col("n1")).cast("long").alias("n_right"),
        F.round(s1d / F.col("n1"), 2).alias("mean_left_cents"),
        F.round((sd - s1d) / (F.col("n") - F.col("n1")), 2).alias(
            "mean_right_cents"
        ),
        F.round(
            (F.col("q") - sd * sd / F.col("n"))
            / ((ssd - F.col("q")) / (F.col("n") - 2)),
            4,
        ).alias("f_stat"),
    )


# --------------------------------------------------------------------------
# 2. Laspeyres quarterly price index
# --------------------------------------------------------------------------

@query(
    "part_price_laspeyres_index",
    oracle="""
    WITH pq AS (
        SELECT l_partkey,
               CAST(EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) * 4
                    + FLOOR((EXTRACT(MONTH FROM CAST(l_shipdate AS DATE))
                             - 1) / 3.0) AS BIGINT) AS q,
               SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS s_cents,
               SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS qty
        FROM lineitem GROUP BY 1, 2
    ),
    base AS (
        SELECT l_partkey, s_cents AS s0, qty AS q0 FROM pq
        WHERE q = (SELECT MIN(q) FROM pq)
    ),
    m AS (
        SELECT pq.q, pq.l_partkey,
               CAST(ROUND(CAST(pq.s_cents AS DOUBLE) / pq.qty * base.q0
                          * 1000) AS BIGINT) AS num_e3,
               CAST(ROUND(CAST(base.s0 AS DOUBLE) / base.q0 * base.q0
                          * 1000) AS BIGINT) AS den_e3
        FROM pq JOIN base ON base.l_partkey = pq.l_partkey
    )
    SELECT CAST(q AS BIGINT) AS quarter_idx,
           COUNT(*) AS n_parts_matched,
           ROUND(SUM(num_e3) * 1.0 / SUM(den_e3), 6) AS laspeyres_index
    FROM m GROUP BY q ORDER BY quarter_idx
    """,
)
def q_part_price_laspeyres_index(spark, t):
    """Laspeyres price index by quarter: the cost of the BASE
    quarter's basket (base-quarter quantities at each quarter's
    average part price) relative to its base cost, over parts traded
    in both quarters. The inflation-adjustment number that separates
    'revenue grew' from 'prices grew' in every trend query
    (monthly_revenue, nation_revenue_cagr); brand_price_ladder reads
    price LEVELS, this reads price MOTION against fixed weights.

    Scale shape: one (part, quarter) rollup with exact BIGINT
    cents/quantity pools; the base-quarter frame joins back at part
    grain (AQE broadcasts it); each part's basket term is integerized
    (ROUND(price*q0*1e3) BIGINT) so the quarterly index is a ratio of
    exact integer sums — no float merge-order sensitivity."""
    d = F.col("l_shipdate").cast("date")
    pq = t["lineitem"].groupBy(
        "l_partkey",
        (
            F.year(d) * 4 + F.floor((F.month(d) - 1) / 3.0)
        ).cast("long").alias("q"),
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "s_cents"
        ),
        F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"),
    )
    pq = pin(pq)
    q0 = pq.agg(F.min("q").alias("q0"))
    base = (
        pq.crossJoin(F.broadcast(q0))
        .filter(F.col("q") == F.col("q0"))
        .select(
            "l_partkey",
            F.col("s_cents").alias("s0"),
            F.col("qty").alias("qty0"),
        )
    )
    m = pq.join(base, "l_partkey").select(
        "q",
        F.round(
            F.col("s_cents").cast("double") / F.col("qty") * F.col("qty0")
            * 1000
        )
        .cast("long")
        .alias("num_e3"),
        F.round(
            F.col("s0").cast("double") / F.col("qty0") * F.col("qty0")
            * 1000
        )
        .cast("long")
        .alias("den_e3"),
    )
    return (
        m.groupBy(F.col("q").cast("long").alias("quarter_idx"))
        .agg(
            F.count(F.lit(1)).alias("n_parts_matched"),
            F.round(F.sum("num_e3") * 1.0 / F.sum("den_e3"), 6).alias(
                "laspeyres_index"
            ),
        )
        .orderBy("quarter_idx")
    )


# --------------------------------------------------------------------------
# 3. Two-group log-rank survival test (BUILDING vs rest)
# --------------------------------------------------------------------------

_LR_SEG = "BUILDING"


@query(
    "customer_churn_logrank_by_segment",
    oracle=f"""
    WITH anchor AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS ad FROM orders),
    seq AS (
        SELECT o.o_custkey,
               CASE WHEN c.c_mktsegment = '{_LR_SEG}' THEN 1 ELSE 0 END AS g,
               CAST(o_orderdate AS DATE) AS d,
               LEAD(CAST(o_orderdate AS DATE)) OVER (
                   PARTITION BY o.o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS nxt
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    dur AS (
        SELECT g,
               CASE WHEN nxt IS NULL THEN CAST(ad - d AS BIGINT)
                    ELSE CAST(nxt - d AS BIGINT) END AS t,
               CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS ev
        FROM seq, anchor
    ),
    tot AS (SELECT SUM(g) AS m1, SUM(1 - g) AS m2 FROM dur),
    by_t AS (
        SELECT t,
               SUM(CASE WHEN g = 1 THEN ev ELSE 0 END) AS d1,
               SUM(CASE WHEN g = 0 THEN ev ELSE 0 END) AS d2,
               SUM(g) AS e1,
               SUM(1 - g) AS e2
        FROM dur GROUP BY t
    ),
    risk AS (
        SELECT t, d1, d2,
               tot.m1 - COALESCE(SUM(e1) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n1,
               tot.m2 - COALESCE(SUM(e2) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n2
        FROM by_t, tot
    ),
    terms AS (
        SELECT d1, d1 + d2 AS dd, n1, n2, n1 + n2 AS nn,
               CAST(ROUND((d1 - CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2))
                          * 1000000000) AS BIGINT) AS ome_e9,
               CAST(ROUND(CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2)
                          * n2 / (n1 + n2)
                          * (n1 + n2 - d1 - d2) / (n1 + n2 - 1)
                          * 1000000000) AS BIGINT) AS v_e9
        FROM risk WHERE d1 + d2 > 0 AND n1 + n2 > 1
    )
    SELECT (SELECT CAST(m1 AS BIGINT) FROM tot) AS n_seg_durations,
           (SELECT CAST(m2 AS BIGINT) FROM tot) AS n_rest_durations,
           CAST(SUM(d1) AS BIGINT) AS events_seg,
           ROUND(SUM(d1) - SUM(ome_e9) / 1000000000.0, 4) AS expected_seg,
           ROUND((SUM(ome_e9) / 1000000000.0)
                 / sqrt(SUM(v_e9) / 1000000000.0), 4) AS logrank_z
    FROM terms
    """,
)
def q_customer_churn_logrank_by_segment(spark, t):
    """Log-rank test: does the 'BUILDING' market segment (_LR_SEG)
    repurchase on a different clock than everyone else? Same censored
    days-to-next-order durations as customer_survival_km, split into
    two groups; at each event time the observed segment events are
    compared to their hypergeometric expectation given the at-risk
    split, and the standardized sum is the log-rank z. THE standard
    two-group survival comparison — the significance test behind any
    per-segment retention curve the dashboard would plot.

    Scale shape: the LEAD window is customer-partitioned; everything
    after is GAP-DAY grain (bounded by the order-date span — the
    customer_survival_km allowlist class) with two cumulative
    at-risk windows; each day's O-E and variance terms are
    integerized (ROUND(x*1e9) BIGINT) so the final sums are exact
    integer aggregations."""
    anchor = t["orders"].agg(F.max(F.to_date("o_orderdate")).alias("ad"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        t["orders"]
        .join(
            t["customer"].select(
                F.col("c_custkey").alias("o_custkey"),
                F.when(F.col("c_mktsegment") == _LR_SEG, 1)
                .otherwise(0)
                .alias("g"),
            ),
            "o_custkey",
        )
        .select(
            "g",
            F.to_date("o_orderdate").alias("d"),
            F.lead(F.to_date("o_orderdate")).over(w).alias("nxt"),
        )
    )
    dur = seq.crossJoin(F.broadcast(anchor)).select(
        "g",
        F.when(F.col("nxt").isNull(), F.datediff("ad", "d").cast("long"))
        .otherwise(F.datediff("nxt", "d").cast("long"))
        .alias("t"),
        F.when(F.col("nxt").isNull(), 0).otherwise(1).alias("ev"),
    )
    by_t = pin(
        dur.groupBy("t").agg(
            F.sum(F.when(F.col("g") == 1, F.col("ev")).otherwise(0)).alias(
                "d1"
            ),
            F.sum(F.when(F.col("g") == 0, F.col("ev")).otherwise(0)).alias(
                "d2"
            ),
            F.sum("g").alias("e1"),
            F.sum(1 - F.col("g")).alias("e2"),
        )
    )
    tot = by_t.agg(
        F.sum("e1").alias("m1"), F.sum("e2").alias("m2")
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = by_t.crossJoin(F.broadcast(tot)).select(
        "t",
        "d1",
        "d2",
        (
            F.col("m1") - F.coalesce(F.sum("e1").over(wcum), F.lit(0))
        ).alias("n1"),
        (
            F.col("m2") - F.coalesce(F.sum("e2").over(wcum), F.lit(0))
        ).alias("n2"),
    )
    dd = (F.col("d1") + F.col("d2")).cast("double")
    nn = (F.col("n1") + F.col("n2")).cast("double")
    terms = risk.filter(
        (F.col("d1") + F.col("d2") > 0) & (F.col("n1") + F.col("n2") > 1)
    ).select(
        "d1",
        F.round((F.col("d1") - dd * F.col("n1") / nn) * 1000000000)
        .cast("long")
        .alias("ome_e9"),
        F.round(
            dd
            * F.col("n1")
            / nn
            * F.col("n2")
            / nn
            * (nn - dd)
            / (nn - 1)
            * 1000000000
        )
        .cast("long")
        .alias("v_e9"),
    )
    agg = terms.agg(
        F.sum("d1").cast("long").alias("events_seg"),
        F.sum("ome_e9").alias("ome_e9"),
        F.sum("v_e9").alias("v_e9"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("m1").cast("long").alias("n_seg_durations"),
        F.col("m2").cast("long").alias("n_rest_durations"),
        "events_seg",
        F.round(
            F.col("events_seg") - F.col("ome_e9") / 1000000000.0, 4
        ).alias("expected_seg"),
        F.round(
            (F.col("ome_e9") / 1000000000.0)
            / F.sqrt(F.col("v_e9") / 1000000000.0),
            4,
        ).alias("logrank_z"),
    )


# --------------------------------------------------------------------------
# 4. Quality-score AUC against prefix duplication
# --------------------------------------------------------------------------

@query("doc_quality_dup_auc", oracle=None)  # composed below
def q_doc_quality_dup_auc(spark, t):
    """Does the quality score actually SEPARATE template docs from
    unique ones? AUC of quality_score as a classifier of
    prefix-duplicated (32-char-prefix multiplicity >= 2, the
    doc_quality_vs_dup_class key) vs unique documents: AUC =
    P(random unique doc outscores random duplicated doc), ties at
    half weight — the single-number version of that query's
    per-bucket distribution read, and the go/no-go for using the
    quality filter as a cheap dedup proxy. 0.5 = useless, -> 1 =
    quality alone finds the templates.

    Scale shape: the AUC is the Mann-Whitney U over quality-score
    VALUE GRAIN (one rollup carrying dup/unique conditional counts,
    then ``running_sum_ranged`` for the below-count — the
    order_value_weekend_mannwhitney machinery pointed at a model
    metric); products pool in DECIMAL(38,0); no per-pair work
    anywhere."""
    cls = (
        t["documents"]
        .filter(F.col("text").isNotNull() & (F.length("text") >= 32))
        .select("doc_id", F.md5(F.substring("text", 1, 32)).alias("h"))
    )
    mult = cls.groupBy("h").agg(F.count(F.lit(1)).alias("copies"))
    labels = cls.join(mult, "h").select(
        "doc_id",
        F.when(F.col("copies") >= 2, 1).otherwise(0).alias("dup"),
    )
    scores = QUERIES["doc_quality_scores"](spark, t.sf_dir).select(
        "doc_id", "quality_score"
    )
    v = (
        labels.join(scores, "doc_id")
        .groupBy("quality_score")
        .agg(
            F.sum("dup").alias("a"),
            F.sum(1 - F.col("dup")).alias("b"),
        )
    )
    c = running_sum_ranged(
        v, [F.asc("quality_score")], "a", "ca_incl"
    ).select("a", "b", (F.col("ca_incl") - F.col("a")).alias("ca_excl"))
    dec = "decimal(38,0)"
    agg = c.agg(
        F.sum(
            F.col("b").cast(dec)
            * (2 * F.col("ca_excl") + F.col("a")).cast(dec)
        ).alias("u2"),
        F.sum("a").alias("n_dup"),
        F.sum("b").alias("n_unique"),
    )
    return agg.select(
        F.col("n_dup").cast("long").alias("n_dup"),
        F.col("n_unique").cast("long").alias("n_unique"),
        F.round(
            F.col("u2").cast("double")
            / (
                2.0
                * F.col("n_dup").cast("double")
                * F.col("n_unique").cast("double")
            ),
            6,
        ).alias("auc_unique_over_dup"),
    )


ORACLES["doc_quality_dup_auc"] = f"""
    WITH p AS (
        SELECT doc_id, md5(substr(text, 1, 32)) AS h
        FROM documents WHERE text IS NOT NULL AND length(text) >= 32
    ),
    mult AS (SELECT h, COUNT(*) AS copies FROM p GROUP BY h),
    labels AS (
        SELECT p.doc_id, CASE WHEN m.copies >= 2 THEN 1 ELSE 0 END AS dup
        FROM p JOIN mult m ON m.h = p.h
    ),
    scores AS (
        SELECT doc_id, quality_score
        FROM ({{qs}}) s
    ),
    v AS (
        SELECT quality_score, SUM(dup) AS a, SUM(1 - dup) AS b
        FROM labels JOIN scores USING (doc_id)
        GROUP BY quality_score
    ),
    c AS (
        SELECT a, b,
               SUM(a) OVER (ORDER BY quality_score
                            ROWS UNBOUNDED PRECEDING) - a AS ca_excl
        FROM v
    ),
    agg AS (
        SELECT SUM(CAST(b AS DECIMAL(38,0))
                   * CAST(2 * ca_excl + a AS DECIMAL(38,0))) AS u2,
               SUM(a) AS n_dup, SUM(b) AS n_unique
        FROM c
    )
    SELECT CAST(n_dup AS BIGINT) AS n_dup,
           CAST(n_unique AS BIGINT) AS n_unique,
           ROUND(CAST(u2 AS DOUBLE)
                 / (2.0 * CAST(n_dup AS DOUBLE) * CAST(n_unique AS DOUBLE)),
                 6) AS auc_unique_over_dup
    FROM agg
""".replace("{qs}", ORACLES["doc_quality_scores"])


# --------------------------------------------------------------------------
# 5. KS exponentiality test on repeat-purchase gaps
# --------------------------------------------------------------------------

@query(
    "repeat_gap_ks_exponential",
    oracle="""
    WITH seq AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               LEAD(CAST(o_orderdate AS DATE)) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS nxt
        FROM orders
    ),
    gaps AS (
        SELECT CAST(nxt - d AS BIGINT) AS t FROM seq WHERE nxt IS NOT NULL
    ),
    tot AS (
        SELECT COUNT(*) AS n, SUM(CAST(t AS DECIMAL(38,0))) AS s FROM gaps
    ),
    v AS (SELECT t, COUNT(*) AS c FROM gaps GROUP BY t),
    cum AS (
        SELECT t, c,
               SUM(c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cinc
        FROM v
    ),
    dev AS (
        SELECT GREATEST(
                   ABS(CAST(cinc AS DOUBLE) / tot.n
                       - (1 - EXP(-CAST(t AS DOUBLE) * tot.n
                                  / CAST(tot.s AS DOUBLE)))),
                   ABS(CAST(cinc - c AS DOUBLE) / tot.n
                       - (1 - EXP(-CAST(t AS DOUBLE) * tot.n
                                  / CAST(tot.s AS DOUBLE))))
               ) AS dv
        FROM cum, tot
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_gaps,
           (SELECT ROUND(CAST(s AS DOUBLE) / n, 4) FROM tot)
               AS mean_gap_days,
           ROUND(MAX(dv), 6) AS ks_d,
           ROUND(MAX(dv) * sqrt((SELECT n FROM tot)), 4) AS ks_stat_scaled
    FROM dev
    """,
)
def q_repeat_gap_ks_exponential(spark, t):
    """Kolmogorov-Smirnov test of the memoryless-repurchase
    hypothesis: are days-between-consecutive-orders exponentially
    distributed (rate fitted from the sample mean)? D is the largest
    gap between the empirical CDF (both one-sided steps) and the
    fitted exponential CDF; sqrt(n)*D is the Lilliefors-style
    statistic (fitted-parameter critical values apply — stated).
    repeat_purchase_intervals reports the gap moments; this tests the
    DISTRIBUTIONAL story behind churn models that assume constant
    hazard (customer_survival_km shows the curve; this scores the
    parametric shortcut).

    Scale shape: customer-partitioned LEAD for gaps, one gap-VALUE
    grain rollup, ``running_sum_ranged`` for the empirical CDF (no
    one-task window), exact BIGINT counts and DECIMAL sum for the
    mean; the max deviation is an order-insensitive MAX."""
    dec = "decimal(38,0)"
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = t["orders"].select(
        F.to_date("o_orderdate").alias("d"),
        F.lead(F.to_date("o_orderdate")).over(w).alias("nxt"),
    )
    gaps = seq.filter(F.col("nxt").isNotNull()).select(
        F.datediff("nxt", "d").cast("long").alias("t")
    )
    tot = gaps.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("t").cast(dec)).alias("s"),
    )
    v = gaps.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    cum = running_sum_ranged(v, [F.asc("t")], "c", "cinc")
    fexp = 1 - F.exp(
        -F.col("t").cast("double")
        * F.col("n")
        / F.col("s").cast("double")
    )
    dev = cum.crossJoin(F.broadcast(tot)).select(
        F.greatest(
            F.abs(F.col("cinc").cast("double") / F.col("n") - fexp),
            F.abs(
                (F.col("cinc") - F.col("c")).cast("double") / F.col("n")
                - fexp
            ),
        ).alias("dv")
    )
    mx = dev.agg(F.max("dv").alias("d"))
    return mx.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("long").alias("n_gaps"),
        F.round(F.col("s").cast("double") / F.col("n"), 4).alias(
            "mean_gap_days"
        ),
        F.round(F.col("d"), 6).alias("ks_d"),
        F.round(F.col("d") * F.sqrt(F.col("n").cast("double")), 4).alias(
            "ks_stat_scaled"
        ),
    )
