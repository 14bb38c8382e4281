"""Round-10 NEW corpus additions, part 3: rescaled-range Hurst
exponent, a Weibull hazard-shape fit of repeat-purchase gaps, the
two-NN intrinsic-dimension estimator, and a Ljung-Box portmanteau
whiteness test.

Reference anchors: the dashboard's monthly trend pane (app.py:281-284)
gets its long-memory probe (Hurst — does a hot streak predict more
hot days?) and its whiteness test (Ljung-Box — is there ANY linear
structure left after the trend reads?); the repeat-purchase KPIs
(app.py:341-420) get the hazard SHAPE (Weibull k: accelerating vs
decelerating repurchase propensity — repeat_gap_ks_exponential only
tests the memoryless point hypothesis k=1); the embedding QA family
gets the manifold-dimension estimate every ANN index parameter choice
implicitly assumes.

Determinism levers: block deviations as EXACT integers (x*w - j*s),
squared-moment pools in DECIMAL(38,0), per-row/per-block ROUND(x*1e6
or 1e9) BIGINT integerization before any float-accumulating sum, and
fixed-order pivoted sums for the 5-point Hurst regression.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..functions.money import O_CENTS, o_cents
from ..operators.partitioning import ensure_parallelism
from ..operators.pinning import pin
from .corpus import ORACLES, QUERIES, query  # noqa: F401


# --------------------------------------------------------------------------
# 1. Rescaled-range (R/S) Hurst exponent of daily revenue
# --------------------------------------------------------------------------

_HURST_WINDOWS = (8, 16, 32, 64, 128)


def _hurst_pivot(col_expr: str) -> str:
    """Fixed-order 5-term sum over the block-size grain — explicit
    addition order on BOTH engines (the Kruskal-Wallis pivot lever)."""
    return " + ".join(
        f"MAX(CASE WHEN w = {w} THEN {col_expr} ELSE 0.0 END)"
        for w in _HURST_WINDOWS
    )


@query(
    "daily_revenue_hurst_rs",
    oracle=f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day, SUM({O_CENTS}) AS cents
        FROM orders GROUP BY 1
    ),
    ti AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS t,
               COUNT(*) OVER () AS n
        FROM d
    ),
    wrows AS (
        SELECT t.i AS w, ti.t, ti.cents, ti.n,
               CAST(FLOOR((ti.t - 1) * 1.0 / t.i) AS BIGINT) AS blk
        FROM ti, range(0, 256) t(i)
        WHERE t.i IN ({", ".join(str(w) for w in _HURST_WINDOWS)})
          AND ti.t <= CAST(FLOOR(ti.n * 1.0 / t.i) AS BIGINT) * t.i
    ),
    bstat AS (
        SELECT w, blk,
               SUM(CAST(cents AS DECIMAL(38,0))) AS s,
               SUM(CAST(cents AS DECIMAL(38,0))
                   * CAST(cents AS DECIMAL(38,0))) AS ss
        FROM wrows GROUP BY w, blk
    ),
    dev AS (
        SELECT r.w, r.blk,
               SUM(r.cents) OVER (PARTITION BY r.w, r.blk ORDER BY r.t
                                  ROWS UNBOUNDED PRECEDING)
                   * r.w
                 - ROW_NUMBER() OVER (PARTITION BY r.w, r.blk ORDER BY r.t)
                   * CAST(b.s AS BIGINT) AS z,
               b.s, b.ss
        FROM wrows r JOIN bstat b ON b.w = r.w AND b.blk = r.blk
    ),
    brs AS (
        SELECT w, blk,
               MAX(z) - MIN(z) AS r_scaled,
               MAX(CAST(w * ss AS DOUBLE) - CAST(s AS DOUBLE)
                   * CAST(s AS DOUBLE)) AS s2_scaled
        FROM dev GROUP BY w, blk
    ),
    blk_ln AS (
        SELECT w,
               CAST(ROUND(LN(r_scaled / SQRT(s2_scaled)) * 1000000000)
                    AS BIGINT) AS lnrs_e9
        FROM brs WHERE r_scaled > 0 AND s2_scaled > 0
    ),
    per_w AS (
        SELECT w,
               LN(CAST(w AS DOUBLE)) AS x,
               SUM(lnrs_e9) * 1.0 / COUNT(*) / 1000000000 AS y
        FROM blk_ln GROUP BY w
    ),
    piv AS (
        SELECT {_hurst_pivot("x * y")} AS sxy,
               {_hurst_pivot("x")} AS sx,
               {_hurst_pivot("y")} AS sy,
               {_hurst_pivot("x * x")} AS sxx
        FROM per_w
    )
    SELECT (SELECT CAST(MAX(n) AS BIGINT) FROM ti) AS n_days,
           CAST({len(_HURST_WINDOWS)} AS BIGINT) AS n_block_sizes,
           ROUND(({len(_HURST_WINDOWS)} * sxy - sx * sy)
                 / ({len(_HURST_WINDOWS)} * sxx - sx * sx), 4)
               AS hurst_exponent
    FROM piv
    """,
)
def q_daily_revenue_hurst_rs(spark, t):
    """Rescaled-range Hurst exponent of the daily-revenue series:
    slope of ln(mean R/S) against ln(block size) over block sizes
    8..128. H ~ 0.5 = no long memory; H > 0.5 = persistent streaks
    (hot weeks predict hot weeks — CUSUM/changepoint readers assume
    this away); H < 0.5 = mean-reverting. The long-memory probe the
    dashboard's trend pane (app.py:281-284) has no primitive for.

    Determinism: block cumulative deviations are EXACT integers
    (prefix_sum*w - j*block_sum — no rational mean ever
    materializes), the block variance pool is DECIMAL(38,0), each
    block's ln(R/S) is e9-integerized, and the 5-point regression
    uses fixed-order pivoted sums.

    Scale shape: ONE day-grain rollup over the fact; the 5x block
    unfold, per-block windows (PARTITIONED by block-size and block),
    and the regression all run on the CALENDAR-BOUNDED day frame.
    The only unpartitioned window is the day indexer (allowlisted)."""
    dec = "decimal(38,0)"
    d = t["orders"].groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(o_cents()).alias("cents"))
    # pinned: the indexed day frame feeds the block unfold, block
    # stats, deviations, AND the n_days output — ONE fact rollup
    ti = pin(
        d.select(
            "cents",
            F.row_number().over(Window.orderBy("day")).alias("t"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
    )
    ws = spark.range(0, 256).select(
        F.col("id").cast("int").alias("w")
    ).filter(F.col("w").isin(*_HURST_WINDOWS))
    wrows = pin(
        ti.crossJoin(F.broadcast(ws))
        .filter(F.col("t") <= (F.col("n") / F.col("w")).cast("long") * F.col("w"))
        .select(
            "w",
            "t",
            "cents",
            "n",
            ((F.col("t") - 1) / F.col("w")).cast("long").alias("blk"),
        )
    )  # pinned: feeds both the block-stat rollup and the deviation pass
    bstat = wrows.groupBy("w", "blk").agg(
        F.sum(F.col("cents").cast(dec)).alias("s"),
        F.sum(F.col("cents").cast(dec) * F.col("cents").cast(dec)).alias(
            "ss"
        ),
    )
    wb = Window.partitionBy("w", "blk").orderBy("t")
    dev = wrows.join(bstat, ["w", "blk"]).select(
        "w",
        "blk",
        (
            F.sum("cents").over(wb.rowsBetween(Window.unboundedPreceding, 0))
            * F.col("w")
            - F.row_number().over(wb) * F.col("s").cast("long")
        ).alias("z"),
        "s",
        "ss",
    )
    brs = dev.groupBy("w", "blk").agg(
        (F.max("z") - F.min("z")).alias("r_scaled"),
        F.max(
            (F.col("w") * F.col("ss")).cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double")
        ).alias("s2_scaled"),
    )
    blk_ln = brs.filter(
        (F.col("r_scaled") > 0) & (F.col("s2_scaled") > 0)
    ).select(
        "w",
        F.round(
            F.log(F.col("r_scaled") / F.sqrt(F.col("s2_scaled"))) * 1e9
        )
        .cast("long")
        .alias("lnrs_e9"),
    )
    per_w = blk_ln.groupBy("w").agg(
        (F.sum("lnrs_e9") * 1.0 / F.count(F.lit(1)) / 1e9).alias("y")
    ).select("w", F.log(F.col("w").cast("double")).alias("x"), "y")

    def piv(expr: str):
        cols = [
            F.max(
                F.when(F.col("w") == w, F.expr(expr)).otherwise(F.lit(0.0))
            )
            for w in _HURST_WINDOWS
        ]
        out = cols[0]
        for c in cols[1:]:
            out = out + c
        return out

    k = len(_HURST_WINDOWS)
    pivf = per_w.agg(
        piv("x * y").alias("sxy"),
        piv("x").alias("sx"),
        piv("y").alias("sy"),
        piv("x * x").alias("sxx"),
    )
    nrow = ti.agg(F.max("n").alias("n_days"))
    return nrow.crossJoin(F.broadcast(pivf)).select(
        F.col("n_days").cast("long").alias("n_days"),
        F.lit(k).cast("long").alias("n_block_sizes"),
        F.round(
            (k * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (k * F.col("sxx") - F.col("sx") * F.col("sx")),
            4,
        ).alias("hurst_exponent"),
    )


# --------------------------------------------------------------------------
# 2. Weibull fit of repeat-purchase gaps (log-log rank regression)
# --------------------------------------------------------------------------

@query(
    "repeat_gap_weibull_fit",
    oracle="""
    WITH seq AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               LEAD(CAST(o_orderdate AS DATE)) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS nxt
        FROM orders
    ),
    gaps AS (
        SELECT CAST(nxt - d AS BIGINT) AS t FROM seq
        WHERE nxt IS NOT NULL AND CAST(nxt - d AS BIGINT) >= 1
    ),
    v AS (SELECT t, COUNT(*) AS c FROM gaps GROUP BY t),
    n AS (SELECT SUM(c) AS n, COUNT(*) AS nv FROM v),
    cum AS (
        SELECT t, c,
               SUM(c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cinc
        FROM v
    ),
    pts AS (
        SELECT CAST(ROUND(LN(CAST(t AS DOUBLE)) * 1000000) AS BIGINT)
                   AS x_e6,
               CAST(ROUND(LN(-LN(1 - CAST(cinc AS DOUBLE) / (n.n + 1)))
                          * 1000000) AS BIGINT) AS y_e6
        FROM cum, n
    ),
    s AS (
        SELECT COUNT(*) AS m,
               SUM(CAST(x_e6 AS DECIMAL(38,0))) AS sx,
               SUM(CAST(y_e6 AS DECIMAL(38,0))) AS sy,
               SUM(CAST(x_e6 AS DECIMAL(38,0))
                   * CAST(x_e6 AS DECIMAL(38,0))) AS sxx,
               SUM(CAST(x_e6 AS DECIMAL(38,0))
                   * CAST(y_e6 AS DECIMAL(38,0))) AS sxy
        FROM pts
    ),
    fit AS (
        SELECT m,
               (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS k,
               CAST(sx AS DOUBLE) / m AS xbar,
               CAST(sy AS DOUBLE) / m AS ybar
        FROM s
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM n) AS n_gaps,
           (SELECT CAST(nv AS BIGINT) FROM n) AS n_gap_values,
           ROUND(k, 4) AS weibull_shape,
           ROUND(EXP(-(ybar - k * xbar) / k / 1000000), 2)
               AS weibull_scale_days
    FROM fit
    """,
)
def q_repeat_gap_weibull_fit(spark, t):
    """Weibull fit of customer repeat-purchase gaps by the standard
    log-log rank regression (grouped Weibull plot: one point per
    distinct gap length at its mean-rank plotting position
    F = cum/(n+1); slope = shape k, intercept recovers the scale).
    repeat_gap_ks_exponential tests the point hypothesis
    'memoryless' (k = 1); this ESTIMATES the hazard shape — k < 1 =
    decelerating repurchase (winback needed), k > 1 = accelerating
    (habit formation). Same-day repeat orders (gap 0) are excluded —
    ln(0) has no plotting position; both engines apply the filter.

    Determinism: each grain point's (ln t, ln(-ln(1-F))) pair is
    e6-integerized from exact integer counts; the regression moments
    are DECIMAL(38,0) sums of those integers, so shape and scale are
    pure functions of exact sums.

    Scale shape: one key-partitioned LEAD over the fact, one gap
    aggregation, then everything runs on the BOUNDED gap-value grain
    (~2.5k distinct day-gaps; the cumulative window is allowlisted)."""
    dec = "decimal(38,0)"
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = t["orders"].select(
        F.col("o_orderdate").cast("date").alias("d"),
        F.lead(F.col("o_orderdate").cast("date")).over(w).alias("nxt"),
    )
    gaps = seq.filter(F.col("nxt").isNotNull()).select(
        F.datediff("nxt", "d").cast("long").alias("t")
    ).filter(F.col("t") >= 1)
    # pinned: the bounded gap-value frame feeds totals and the
    # cumulative rank — ONE key-partitioned LEAD pass over the fact
    v = pin(gaps.groupBy("t").agg(F.count(F.lit(1)).alias("c")))
    n = v.agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("nv"))
    cw = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = v.select("t", "c", F.sum("c").over(cw).alias("cinc"))
    pts = cum.crossJoin(F.broadcast(n)).select(
        F.round(F.log(F.col("t").cast("double")) * 1e6)
        .cast("long")
        .alias("x_e6"),
        F.round(
            F.log(
                -F.log(
                    1 - F.col("cinc").cast("double") / (F.col("n") + 1)
                )
            )
            * 1e6
        )
        .cast("long")
        .alias("y_e6"),
    )
    xd = F.col("x_e6").cast(dec)
    yd = F.col("y_e6").cast(dec)
    s = pts.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(xd * yd).alias("sxy"),
    )
    md = F.col("m").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    k = (md * F.col("sxy").cast("double") - sxd * syd) / (
        md * F.col("sxx").cast("double") - sxd * sxd
    )
    fit = s.select(
        k.alias("k"),
        (sxd / md).alias("xbar"),
        (syd / md).alias("ybar"),
    )
    return n.crossJoin(F.broadcast(fit)).select(
        F.col("n").cast("long").alias("n_gaps"),
        F.col("nv").cast("long").alias("n_gap_values"),
        F.round("k", 4).alias("weibull_shape"),
        F.round(
            F.exp(
                -(F.col("ybar") - F.col("k") * F.col("xbar"))
                / F.col("k")
                / 1e6
            ),
            2,
        ).alias("weibull_scale_days"),
    )


# --------------------------------------------------------------------------
# 3. Two-NN intrinsic-dimension estimator (Facco et al. 2017)
# --------------------------------------------------------------------------

# Deterministic audit sample (the _KNN_SAMPLE_MOD convention): the
# module constant is read by engine AND oracle, so widening the 100 TB
# knob keeps the audit oracle-equal.
_ID2NN_SAMPLE_MOD = 4


@query(
    "emb_intrinsic_dimension_2nn",
    oracle=f"""
    WITH s AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % {_ID2NN_SAMPLE_MOD} = 0
    ),
    pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v)
                 - 2 * list_dot_product(a.v, b.v) AS d2
        FROM s a, s b WHERE a.vec_id <> b.vec_id
    ),
    nn AS (
        SELECT a_id, d2,
               ROW_NUMBER() OVER (
                   PARTITION BY a_id
                   ORDER BY CAST(ROUND(d2 * 1000000000) AS BIGINT),
                            b_id) AS rn
        FROM pairs
    ),
    two AS (
        SELECT a_id,
               MAX(CASE WHEN rn = 1 THEN d2 END) AS d2_1,
               MAX(CASE WHEN rn = 2 THEN d2 END) AS d2_2
        FROM nn WHERE rn <= 2 GROUP BY a_id
    ),
    mu AS (
        SELECT CAST(ROUND(0.5 * LN(d2_2 / d2_1) * 1000000000) AS BIGINT)
                   AS lnmu_e9
        FROM two WHERE d2_1 > 0 AND d2_2 IS NOT NULL
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_sample,
           CAST(COUNT(*) AS BIGINT) AS n_anchors_used,
           ROUND(COUNT(*) * 1000000000.0 / SUM(lnmu_e9), 4) AS id_2nn,
           ROUND(SUM(lnmu_e9) / (COUNT(*) * 1000000000.0), 6)
               AS mean_ln_mu
    FROM mu
    """,
)
def q_emb_intrinsic_dimension_2nn(spark, t):
    """Two-NN intrinsic-dimension estimate (Facco et al. 2017): for
    each sampled vector, mu = r2/r1 (its two nearest-neighbor
    distances); the manifold dimension MLE is ID = n / sum(ln mu).
    The number every ANN index parameter choice implicitly assumes —
    IVF list counts, PQ subspace budgets, and LSH plane counts are
    all tuned to the data's INTRINSIC dimension, not the ambient 64
    (emb_dim_energy_concentration reads the LINEAR spectrum; two-NN
    sees nonlinear manifolds). Anchors whose nearest neighbor is an
    exact duplicate (r1 = 0) have no defined ratio and are excluded
    on both engines (n_anchors_used reports the survivors).

    Determinism: ln(mu) is e9-integerized per anchor before the
    integer sum, and the 2-NN RANKING KEY is itself e9-integerized
    (ROW_NUMBER over CAST(ROUND(d2*1e9) AS BIGINT), b_id on BOTH
    engines — ADVICE-r10: ranking on the raw double let a ULP
    difference between DuckDB's list_dot_product and Spark's
    aggregate/zip_with fold swap ranks 1 and 2 for near-equal
    distances; near-ties now resolve by the exact b_id tie-break).

    Scale shape: sampled audit contract (the _KNN_SAMPLE_MOD
    pattern — module constant shared by engine and oracle, never a
    production path); pair generation is a broadcast nested-loop of
    the bounded sample against itself; the 2-NN rank is partitioned
    by anchor."""
    # pinned: the bounded sample feeds both join sides and the
    # n_sample output — ONE scan of the embeddings
    s = pin(
        ensure_parallelism(t["embeddings"])
        .filter(F.col("vec_id") % _ID2NN_SAMPLE_MOD == 0)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )

    def dot_sql(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )

    a = s.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"))
    b = s.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("a_id") != F.col("b_id")).select(
        "a_id",
        "b_id",
        (
            F.expr(dot_sql("va", "va"))
            + F.expr(dot_sql("vb", "vb"))
            - 2 * F.expr(dot_sql("va", "vb"))
        ).alias("d2"),
    )
    wn = Window.partitionBy("a_id").orderBy(
        F.round(F.col("d2") * 1e9).cast("long"), "b_id"
    )
    nn = pairs.select(
        "a_id", "d2", F.row_number().over(wn).alias("rn")
    ).filter(F.col("rn") <= 2)
    two = nn.groupBy("a_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("d2"))).alias("d2_1"),
        F.max(F.when(F.col("rn") == 2, F.col("d2"))).alias("d2_2"),
    )
    mu = two.filter(
        (F.col("d2_1") > 0) & F.col("d2_2").isNotNull()
    ).select(
        F.round(0.5 * F.log(F.col("d2_2") / F.col("d2_1")) * 1e9)
        .cast("long")
        .alias("lnmu_e9")
    )
    ns = s.agg(F.count(F.lit(1)).alias("n_sample"))
    agg = mu.agg(
        F.count(F.lit(1)).cast("long").alias("n_anchors_used"),
        F.round(
            F.count(F.lit(1)) * 1e9 / F.sum("lnmu_e9"), 4
        ).alias("id_2nn"),
        F.round(
            F.sum("lnmu_e9") / (F.count(F.lit(1)) * 1e9), 6
        ).alias("mean_ln_mu"),
    )
    return ns.crossJoin(F.broadcast(agg)).select(
        F.col("n_sample").cast("long").alias("n_sample"),
        "n_anchors_used",
        "id_2nn",
        "mean_ln_mu",
    )


# --------------------------------------------------------------------------
# 4. Ljung-Box portmanteau whiteness test on daily revenue
# --------------------------------------------------------------------------

_LB_MAX_LAG = 14


def _lb_lead_cols() -> str:
    return ",\n               ".join(
        f"LEAD(dv, {k}) OVER (ORDER BY t) AS dv{k}"
        for k in range(1, _LB_MAX_LAG + 1)
    )


def _lb_num_rows() -> str:
    return "\n        UNION ALL\n".join(
        f"""        SELECT {k} AS lag,
               SUM(CAST(dv AS DECIMAL(38,0)) * dv{k}) AS num
        FROM led WHERE dv{k} IS NOT NULL"""
        for k in range(1, _LB_MAX_LAG + 1)
    )


@query(
    "daily_revenue_ljung_box",
    oracle=f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day, SUM({O_CENTS}) AS cents
        FROM orders GROUP BY 1
    ),
    ti AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS t,
               COUNT(*) OVER () AS n,
               SUM(CAST(cents AS DECIMAL(38,0))) OVER () AS s
        FROM d
    ),
    dev AS (
        SELECT t, n,
               cents * n - CAST(s AS BIGINT) AS dv
        FROM ti
    ),
    led AS (
        SELECT t, n, dv,
               {_lb_lead_cols()}
        FROM dev
    ),
    den AS (
        SELECT MAX(n) AS n,
               SUM(CAST(dv AS DECIMAL(38,0)) * dv) AS den
        FROM led
    ),
    nums AS (
{_lb_num_rows()}
    ),
    rho AS (
        SELECT lag,
               CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE) AS r
        FROM nums, den
    ),
    terms AS (
        SELECT lag,
               CAST(ROUND(r * r / (den.n - lag) * 1000000000000)
                    AS BIGINT) AS term_e12,
               CASE WHEN lag = 1 THEN r END AS rho1
        FROM rho, den
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM den) AS n_days,
           CAST({_LB_MAX_LAG} AS BIGINT) AS max_lag,
           ROUND((SELECT n FROM den) * ((SELECT n FROM den) + 2.0)
                 * SUM(term_e12) / 1000000000000, 4) AS q_stat,
           ROUND(MAX(rho1), 6) AS rho_lag1
    FROM terms
    """,
)
def q_daily_revenue_ljung_box(spark, t):
    """Ljung-Box portmanteau test on the daily-revenue series:
    Q = n(n+2) * sum_k rho_k^2/(n-k) over lags 1..14 — is there ANY
    linear autocorrelation structure left? daily_revenue_autocorr
    reads individual lags; Ljung-Box aggregates them into the ONE
    test statistic (chi-square, 14 df) that licenses or forbids
    treating residual revenue as white noise — the precondition every
    control-chart query (CUSUM, volatility regimes) quietly assumes.

    Determinism: deviations are EXACT integers (cents*n - total — no
    rational mean), autocovariance numerators and the denominator
    are DECIMAL(38,0) integer sums, each lag's rho^2/(n-k) term is
    e12-integerized before the 14-term sum.

    Scale shape: ONE day-grain rollup over the fact; the 14 LEAD
    windows, the moment sums, and the statistic all run on the
    CALENDAR-BOUNDED day frame (allowlisted)."""
    dec = "decimal(38,0)"
    d = t["orders"].groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(o_cents()).alias("cents"))
    wfull = Window.partitionBy()
    wday = Window.orderBy("t")
    ti = d.select(
        "cents",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.count(F.lit(1)).over(wfull).alias("n"),
        F.sum(F.col("cents").cast(dec)).over(wfull).alias("s"),
    )
    dev = ti.select(
        "t",
        "n",
        (F.col("cents") * F.col("n") - F.col("s").cast("long")).alias("dv"),
    )
    led = dev.select(
        "t",
        "n",
        "dv",
        *[
            F.lead("dv", k).over(wday).alias(f"dv{k}")
            for k in range(1, _LB_MAX_LAG + 1)
        ],
    )
    # ONE aggregation computes the denominator and all 14 lag
    # numerators in a single pass over the (already bounded) day
    # frame — the earlier union-of-14-branches form re-derived the
    # fact rollup per lag (16 scans in the physical plan); lead() is
    # NULL past the series end, so the NULL-skipping SUM reproduces
    # each branch's dv{k} IS NOT NULL filter exactly
    one = led.agg(
        F.max("n").alias("n"),
        F.sum(F.col("dv").cast(dec) * F.col("dv")).alias("den"),
        *[
            F.sum(F.col("dv").cast(dec) * F.col(f"dv{k}")).alias(f"num{k}")
            for k in range(1, _LB_MAX_LAG + 1)
        ],
    )
    stack_args = ", ".join(
        f"{k}, num{k}" for k in range(1, _LB_MAX_LAG + 1)
    )
    rho = one.select(
        "n",
        "den",
        F.expr(
            f"stack({_LB_MAX_LAG}, {stack_args}) AS (lag, num)"
        ),
    ).select(
        "lag",
        (F.col("num").cast("double") / F.col("den").cast("double")).alias(
            "r"
        ),
        "n",
    )
    terms = rho.select(
        "lag",
        F.round(
            F.col("r") * F.col("r") / (F.col("n") - F.col("lag")) * 1e12
        )
        .cast("long")
        .alias("term_e12"),
        F.when(F.col("lag") == 1, F.col("r")).alias("rho1"),
        "n",
    )
    return terms.agg(
        F.max("n").cast("long").alias("n_days"),
        F.lit(_LB_MAX_LAG).cast("long").alias("max_lag"),
        F.round(
            F.max("n") * (F.max("n") + 2.0) * F.sum("term_e12") / 1e12, 4
        ).alias("q_stat"),
        F.round(F.max("rho1"), 6).alias("rho_lag1"),
    )
