"""Round-10 NEW corpus additions (registered inside the round-10
driver window, after the 16 staged names): Spearman rank correlation,
Goodman-Kruskal ordinal gamma, a deterministic Poisson-bootstrap
confidence interval, a fixed-period revenue periodogram, and Cramér's
V effect size.

Reference anchors: the dashboard's monthly trend pane (app.py:281-284)
gets its monotone-association measure (Spearman), its cyclic-signal
detector (periodogram), and an uncertainty band for the headline mean
(bootstrap CI); the priority/value views (app.py:399-420) get the
ordinal association (gamma) their crosstabs imply; the
quantity-discount MI query gets its normalized chi-square effect size
(Cramér's V) so dependence strength is comparable across grids.

Every query follows the exact-determinism levers: cents as BIGINT,
DECIMAL(38,0) for squared/pair sums, per-row ROUND(x*1e6/1e9) BIGINT
integerization before float-sensitive sums, midranks as exact 2x
integers, and a multiplicative-hash pseudo-random stream computed in
exact BIGINT arithmetic on BOTH engines (no engine RNG anywhere).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..functions.money import O_CENTS, o_cents
from ..operators.partitioning import ensure_parallelism
from ..operators.pinning import pin
from .corpus import ORACLES, QUERIES, query  # noqa: F401


# --------------------------------------------------------------------------
# 1. Spearman rank correlation: daily revenue vs daily order count
# --------------------------------------------------------------------------

@query(
    "daily_revenue_ordercount_spearman",
    oracle=f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM({O_CENTS}) AS cents,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    ),
    r AS (
        SELECT day,
               2 * RANK() OVER (ORDER BY cents)
                   + COUNT(*) OVER (PARTITION BY cents) - 1 AS rx2,
               2 * RANK() OVER (ORDER BY n_orders)
                   + COUNT(*) OVER (PARTITION BY n_orders) - 1 AS ry2
        FROM d
    ),
    s AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(rx2 AS DECIMAL(38,0))) AS sx,
               SUM(CAST(ry2 AS DECIMAL(38,0))) AS sy,
               SUM(CAST(rx2 AS DECIMAL(38,0))
                   * CAST(rx2 AS DECIMAL(38,0))) AS sxx,
               SUM(CAST(ry2 AS DECIMAL(38,0))
                   * CAST(ry2 AS DECIMAL(38,0))) AS syy,
               SUM(CAST(rx2 AS DECIMAL(38,0))
                   * CAST(ry2 AS DECIMAL(38,0))) AS sxy
        FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
               6) AS spearman_rho
    FROM s
    """,
)
def q_daily_revenue_ordercount_spearman(spark, t):
    """Spearman rank correlation between a day's revenue and its
    order count — the monotone-association number behind the
    dashboard's twin trend lines (app.py:281-284): Pearson
    (nation_balance_spend_corr's lever) sees only LINEAR coupling;
    Spearman survives outlier days and any monotone nonlinearity.
    Ties get textbook midranks, computed EXACTLY as the integer
    2*rank + tie_count - 1 (twice the midrank — Pearson is invariant
    to the 2x scale), so the whole statistic is a ratio of exact
    DECIMAL(38,0) sums with one final double division.

    Scale shape: ONE day-grain rollup over the fact; ranks, moments,
    and the correlation all run on the CALENDAR-BOUNDED day frame
    (~2.4k rows — allowlisted bounded windows)."""
    dec = "decimal(38,0)"
    d = t["orders"].groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(o_cents()).alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    r = d.select(
        (
            2 * F.rank().over(Window.orderBy("cents"))
            + F.count(F.lit(1)).over(Window.partitionBy("cents"))
            - 1
        ).alias("rx2"),
        (
            2 * F.rank().over(Window.orderBy("n_orders"))
            + F.count(F.lit(1)).over(Window.partitionBy("n_orders"))
            - 1
        ).alias("ry2"),
    )
    rx = F.col("rx2").cast(dec)
    ry = F.col("ry2").cast(dec)
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rx).alias("sx"),
        F.sum(ry).alias("sy"),
        F.sum(rx * rx).alias("sxx"),
        F.sum(ry * ry).alias("syy"),
        F.sum(rx * ry).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(
            (nd * F.col("sxy").cast("double") - sxd * syd)
            / F.sqrt(
                (nd * F.col("sxx").cast("double") - sxd * sxd)
                * (nd * F.col("syy").cast("double") - syd * syd)
            ),
            6,
        ).alias("spearman_rho"),
    )


# --------------------------------------------------------------------------
# 2. Goodman-Kruskal gamma: order priority vs order-value digit band
# --------------------------------------------------------------------------

@query(
    "order_priority_value_gamma",
    oracle=f"""
    WITH cells AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS pri,
               length(CAST({O_CENTS} AS STRING)) AS band,
               COUNT(*) AS c
        FROM orders GROUP BY 1, 2
    ),
    pairs AS (
        SELECT SUM(CASE WHEN b.pri > a.pri AND b.band > a.band
                        THEN CAST(a.c AS DECIMAL(38,0)) * b.c
                        ELSE CAST(0 AS DECIMAL(38,0)) END) AS conc,
               SUM(CASE WHEN b.pri > a.pri AND b.band < a.band
                        THEN CAST(a.c AS DECIMAL(38,0)) * b.c
                        ELSE CAST(0 AS DECIMAL(38,0)) END) AS disc
        FROM cells a, cells b
    )
    SELECT CAST(conc AS BIGINT) AS concordant_pairs,
           CAST(disc AS BIGINT) AS discordant_pairs,
           ROUND((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
                 / (CAST(conc AS DOUBLE) + CAST(disc AS DOUBLE)),
                 6) AS gk_gamma
    FROM pairs
    """,
)
def q_order_priority_value_gamma(spark, t):
    """Goodman-Kruskal gamma between order priority (ordinal 1-5) and
    order-value magnitude band (digit count of cents — the exact
    banding precedent from customer_peak90d_spend_digits): do urgent
    orders skew larger? Chi-square (order_priority_dow_chisq) only
    says "dependent"; gamma says in WHICH DIRECTION and how strongly,
    using every concordant/discordant pair — and it is computed from
    the ~25-cell contingency table, never from row pairs.

    Scale shape: ONE (priority x band) cell rollup over the fact,
    then a 25x25 broadcast self-join of the cell frame; pair counts
    accumulate in DECIMAL(38,0) (cell products at 100 TB exceed
    BIGINT), one double division at the end."""
    dec = "decimal(38,0)"
    # pinned: the ~25-row cell frame feeds both sides of the pair
    # join — one fact aggregation, not two
    cells = pin(
        t["orders"]
        .groupBy(
            F.substring("o_orderpriority", 1, 1).cast("int").alias("pri"),
            F.length(o_cents().cast("string")).alias("band"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = cells.alias("a")
    b = cells.alias("b")
    zero = F.lit(0).cast(dec)
    pairs = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("b.pri") > F.col("a.pri"))
                & (F.col("b.band") > F.col("a.band")),
                F.col("a.c").cast(dec) * F.col("b.c"),
            ).otherwise(zero)
        ).alias("conc"),
        F.sum(
            F.when(
                (F.col("b.pri") > F.col("a.pri"))
                & (F.col("b.band") < F.col("a.band")),
                F.col("a.c").cast(dec) * F.col("b.c"),
            ).otherwise(zero)
        ).alias("disc"),
    )
    return pairs.select(
        F.col("conc").cast("long").alias("concordant_pairs"),
        F.col("disc").cast("long").alias("discordant_pairs"),
        F.round(
            (F.col("conc").cast("double") - F.col("disc").cast("double"))
            / (F.col("conc").cast("double") + F.col("disc").cast("double")),
            6,
        ).alias("gk_gamma"),
    )


# --------------------------------------------------------------------------
# 3. Deterministic Poisson-bootstrap CI for the mean order value
# --------------------------------------------------------------------------

_BOOT_B = 64  # bootstrap replicates; constant-bound on both engines
# Poisson(1) inverse-CDF thresholds scaled to 1e6 (cumulative pmf):
# P(0)=.367879, P(<=1)=.735759, P(<=2)=.919699, P(<=3)=.981012,
# P(<=4)=.996340; the tail mass collapses to weight 5.
_POIS_T = (367879, 735759, 919699, 981012, 996340)


@query(
    "orders_poisson_bootstrap_ci",
    oracle=f"""
    WITH ex AS (
        SELECT t.i AS b,
               ((o_orderkey % 1000003) * 2654435761
                + t.i * 40503) % 1000000 AS u,
               {O_CENTS} AS cents
        FROM orders, range(0, {_BOOT_B}) t(i)
    ),
    w AS (
        SELECT b,
               CASE
                 WHEN u < {_POIS_T[0]} THEN 0 WHEN u < {_POIS_T[1]} THEN 1
                 WHEN u < {_POIS_T[2]} THEN 2 WHEN u < {_POIS_T[3]} THEN 3
                 WHEN u < {_POIS_T[4]} THEN 4 ELSE 5
               END AS w,
               cents
        FROM ex
    ),
    reps AS (
        SELECT b,
               CAST(SUM(CAST(w AS DECIMAL(38,0)) * cents) AS DOUBLE)
                   / SUM(w) AS mean_b,
               SUM(CAST(cents AS DECIMAL(38,0))) AS rsum,
               COUNT(*) AS rcnt
        FROM w GROUP BY b
    ),
    ci AS (
        SELECT ROUND(percentile_cont(0.025)
                     WITHIN GROUP (ORDER BY mean_b), 2) AS ci_lo_cents,
               ROUND(percentile_cont(0.975)
                     WITHIN GROUP (ORDER BY mean_b), 2) AS ci_hi_cents,
               MAX(rsum) AS tsum,
               MAX(rcnt) AS tcnt
        FROM reps
    )
    SELECT CAST(tcnt AS BIGINT) AS n_orders,
           ROUND(CAST(tsum AS DOUBLE) / tcnt, 2) AS mean_cents,
           CAST({_BOOT_B} AS BIGINT) AS n_replicates,
           ci_lo_cents, ci_hi_cents
    FROM ci
    """,
)
def q_orders_poisson_bootstrap_ci(spark, t):
    """95% Poisson-bootstrap confidence interval for the mean order
    value — the uncertainty band the dashboard's headline KPI
    (app.py:165-170 metrics row) shows as a bare point estimate. The
    classic scalable bootstrap: instead of resampling n rows B times
    (impossible at 100 TB), every row draws B independent
    Poisson(1) weights, so one pass computes all B replicate means.
    The 'random' stream is a multiplicative hash of (o_orderkey,
    replicate) evaluated in exact BIGINT arithmetic — identical on
    both engines, no RNG, reproducible forever.

    Scale shape: the fact explodes x64 map-side (sequence+explode
    inside the scan stage), ONE shuffle at replicate grain (64
    groups, weighted sums in DECIMAL(38,0)), and the quantile runs
    on the bounded 64-row replicate frame."""
    dec = "decimal(38,0)"
    u = (
        (F.col("o_orderkey") % 1000003) * F.lit(2654435761)
        + F.col("b") * 40503
    ) % 1000000
    w = (
        F.when(F.col("u") < _POIS_T[0], 0)
        .when(F.col("u") < _POIS_T[1], 1)
        .when(F.col("u") < _POIS_T[2], 2)
        .when(F.col("u") < _POIS_T[3], 3)
        .when(F.col("u") < _POIS_T[4], 4)
        .otherwise(5)
    )
    # every replicate's UNWEIGHTED sum/count equals the full table's
    # (each order appears exactly once per b), so the point estimate
    # rides along the replicate aggregation — ONE fact scan total
    reps = (
        t["orders"]
        .select(
            "o_orderkey",
            o_cents().alias("cents"),
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        )
        .withColumn("u", u)
        .withColumn("w", w)
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w").cast(dec) * F.col("cents")).cast("double")
                / F.sum("w")
            ).alias("mean_b"),
            F.sum(F.col("cents").cast(dec)).alias("rsum"),
            F.count(F.lit(1)).alias("rcnt"),
        )
    )
    ci = reps.agg(
        F.round(F.expr("percentile_cont(0.025) WITHIN GROUP (ORDER BY mean_b)"), 2).alias(
            "ci_lo_cents"
        ),
        F.round(F.expr("percentile_cont(0.975) WITHIN GROUP (ORDER BY mean_b)"), 2).alias(
            "ci_hi_cents"
        ),
        F.max("rsum").alias("tsum"),
        F.max("rcnt").alias("tcnt"),
    )
    return ci.select(
        F.col("tcnt").cast("long").alias("n_orders"),
        F.round(F.col("tsum").cast("double") / F.col("tcnt"), 2).alias(
            "mean_cents"
        ),
        F.lit(_BOOT_B).cast("long").alias("n_replicates"),
        "ci_lo_cents",
        "ci_hi_cents",
    )


# --------------------------------------------------------------------------
# 4. Fixed-period revenue periodogram
# --------------------------------------------------------------------------

_PERIODS = (7, 14, 30, 91, 365)


@query(
    "daily_revenue_periodogram",
    oracle=f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day, SUM({O_CENTS}) AS cents
        FROM orders GROUP BY 1
    ),
    ti AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS t FROM d
    ),
    p AS (SELECT t.i AS period FROM range(0, 400) t(i)
          WHERE t.i IN ({", ".join(str(p) for p in _PERIODS)})),
    terms AS (
        SELECT p.period,
               CAST(ROUND(cents * cos(2 * pi() * ti.t / p.period))
                    AS BIGINT) AS c1,
               CAST(ROUND(cents * sin(2 * pi() * ti.t / p.period))
                    AS BIGINT) AS s1,
               cents
        FROM ti, p
    ),
    agg AS (
        SELECT period,
               SUM(CAST(c1 AS DECIMAL(38,0))) AS cs,
               SUM(CAST(s1 AS DECIMAL(38,0))) AS ss,
               SUM(CAST(cents AS DECIMAL(38,0))) AS tot,
               COUNT(*) AS n
        FROM terms GROUP BY period
    )
    SELECT CAST(period AS BIGINT) AS period_days,
           ROUND(SQRT(CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE)
                      + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                 * 2 / CAST(tot AS DOUBLE), 6) AS amplitude_share
    FROM agg ORDER BY period_days
    """,
)
def q_daily_revenue_periodogram(spark, t):
    """Single-frequency DFT power of the daily-revenue series at the
    calendar periods that matter (week, fortnight, month, quarter,
    year): amplitude_share = 2|X(f)|/sum(x) — how much of total
    revenue swings at each cycle. The spectral twin of
    orders_weekday_seasonality (which can only see the 7-day cycle)
    and monthly_seasonal_index (month grain); one number per period,
    comparable across crawls. STL (daily_revenue_stl_decomposition)
    needs the period GIVEN; the periodogram FINDS it.

    Scale shape: ONE day-grain rollup over the fact; the 5-period
    unfold is a broadcast cross of the CALENDAR-BOUNDED day frame
    (~2.4k x 5 rows); each term is integerized per row
    (ROUND(cents*cos) BIGINT — cents magnitudes make the trig ULP
    harmless) and accumulated in DECIMAL(38,0), so the power is a
    function of exact integer sums."""
    dec = "decimal(38,0)"
    d = t["orders"].groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(o_cents()).alias("cents"))
    ti = d.select(
        "cents", F.row_number().over(Window.orderBy("day")).alias("t")
    )
    p = spark.range(0, 400).select(
        F.col("id").cast("int").alias("period")
    ).filter(F.col("period").isin(*_PERIODS))
    theta = 2 * F.lit(3.141592653589793) * F.col("t") / F.col("period")
    terms = ti.crossJoin(F.broadcast(p)).select(
        "period",
        F.round(F.col("cents") * F.cos(theta)).cast("long").alias("c1"),
        F.round(F.col("cents") * F.sin(theta)).cast("long").alias("s1"),
        "cents",
    )
    agg = terms.groupBy("period").agg(
        F.sum(F.col("c1").cast(dec)).alias("cs"),
        F.sum(F.col("s1").cast(dec)).alias("ss"),
        F.sum(F.col("cents").cast(dec)).alias("tot"),
    )
    cs, ss = F.col("cs").cast("double"), F.col("ss").cast("double")
    return agg.select(
        F.col("period").cast("long").alias("period_days"),
        F.round(
            F.sqrt(cs * cs + ss * ss) * 2 / F.col("tot").cast("double"), 6
        ).alias("amplitude_share"),
    ).orderBy("period_days")


# --------------------------------------------------------------------------
# 5. Cramér's V effect size for the quantity-discount grid
# --------------------------------------------------------------------------

@query(
    "quantity_discount_cramers_v",
    oracle="""
    WITH cells AS (
        SELECT CAST(ROUND(l_quantity) AS INT) AS q,
               CAST(ROUND(l_discount * 100) AS INT) AS d,
               COUNT(*) AS c
        FROM lineitem GROUP BY 1, 2
    ),
    mq AS (SELECT q, SUM(c) AS cq FROM cells GROUP BY q),
    md AS (SELECT d, SUM(c) AS cd FROM cells GROUP BY d),
    n AS (SELECT SUM(c) AS n FROM cells),
    chi AS (
        SELECT SUM(CAST(ROUND(
                   (CAST(c AS DOUBLE)
                    - CAST(cq AS DOUBLE) * cd / n.n)
                   * (CAST(c AS DOUBLE)
                      - CAST(cq AS DOUBLE) * cd / n.n)
                   / (CAST(cq AS DOUBLE) * cd / n.n) * 1000000000
               ) AS BIGINT)) AS chi_e9
        FROM cells JOIN mq USING (q) JOIN md USING (d), n
    ),
    dims AS (
        SELECT (SELECT COUNT(*) FROM mq) AS r,
               (SELECT COUNT(*) FROM md) AS k
    )
    SELECT CAST(n.n AS BIGINT) AS n_lines,
           CAST(r AS BIGINT) AS n_quantity_levels,
           CAST(k AS BIGINT) AS n_discount_levels,
           ROUND(chi_e9 / 1000000000.0, 4) AS chi_square,
           ROUND(SQRT(chi_e9 / 1000000000.0
                      / (n.n * (LEAST(r, k) - 1))), 6) AS cramers_v
    FROM n, chi, dims
    """,
)
def q_quantity_discount_cramers_v(spark, t):
    """Cramér's V for the (quantity, discount) contingency grid — the
    [0,1]-normalized chi-square effect size that makes the dependence
    quantity_discount_mutual_information measures in bits comparable
    across tables of different shapes (V is grid-size corrected; MI
    is not). Same exact cell rollup, different normalization theory.

    Scale shape: one bounded (quantity x discount) cell rollup over
    the fact; expected counts come from the broadcast marginals; each
    cell's chi term is integerized per row (ROUND(term*1e9) BIGINT)
    so the statistic is an exact integer sum — marginals and the
    final V are pure functions of the cell counts. Here the
    chi-square sums observed-only cells: a zero observed cell
    contributes its expected mass, which this data's dense bounded
    grid makes immaterial and IDENTICAL on both engines (same cells,
    same marginals)."""
    # pinned: the bounded cell frame feeds marginals, total, and the
    # chi sum — ONE fact aggregation instead of four
    cells = pin(
        t["lineitem"]
        .groupBy(
            F.round("l_quantity").cast("int").alias("q"),
            F.round(F.col("l_discount") * 100).cast("int").alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mq = cells.groupBy("q").agg(F.sum("c").alias("cq"))
    md = cells.groupBy("d").agg(F.sum("c").alias("cd"))
    n = cells.agg(F.sum("c").alias("n"))
    e = F.col("cq").cast("double") * F.col("cd") / F.col("n")
    chi = (
        cells.join(F.broadcast(mq), "q")
        .join(F.broadcast(md), "d")
        .crossJoin(F.broadcast(n))
        .select(
            F.round(
                (F.col("c") - e) * (F.col("c") - e) / e * 1e9
            )
            .cast("long")
            .alias("chi_e9")
        )
        .agg(F.sum("chi_e9").alias("chi_e9"))
    )
    dims = mq.agg(F.count(F.lit(1)).alias("r")).crossJoin(
        md.agg(F.count(F.lit(1)).alias("k"))
    )
    return (
        n.crossJoin(F.broadcast(chi))
        .crossJoin(F.broadcast(dims))
        .select(
            F.col("n").cast("long").alias("n_lines"),
            F.col("r").cast("long").alias("n_quantity_levels"),
            F.col("k").cast("long").alias("n_discount_levels"),
            F.round(F.col("chi_e9") / 1e9, 4).alias("chi_square"),
            F.round(
                F.sqrt(
                    F.col("chi_e9")
                    / 1e9
                    / (F.col("n") * (F.least("r", "k") - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# --------------------------------------------------------------------------
# 6. Markov stationary distribution of the event-type chain
# --------------------------------------------------------------------------

_MARKOV_ITERS = 8
# Chain-closure fixpoint depth (ADVICE-r10): the closure
# S_{i+1} = {src | some (src, dst) cell has dst in S_i} shrinks
# monotonically from S_0 = all sources and can lose at most one
# state per step, so 8 unrolled steps reach the true fixpoint for up
# to 9 initial event types (the event_type enum has 5; same bounded
# grain as _MARKOV_ITERS). At the fixpoint every surviving source
# has at least one surviving out-transition, so the renormalized
# rows each sum to exactly 1 and NO probability mass can leak out of
# the power iteration — the single-pass closure could silently strand
# a source whose every destination was itself dropped.
_MARKOV_CLOSURE_STEPS = 8


def _markov_oracle() -> str:
    closure = "".join(
        f""",
    st{i + 1} AS (
        SELECT DISTINCT c.src AS state
        FROM cells c JOIN st{i} s ON s.state = c.dst
    )"""
        for i in range(_MARKOV_CLOSURE_STEPS)
    )
    steps = "".join(
        f""",
    v{i + 1} AS (
        SELECT p.dst AS state, ROUND(SUM(v.prob * p.p), 12) AS prob
        FROM v{i} v JOIN p ON p.src = v.state GROUP BY p.dst
    )"""
        for i in range(_MARKOV_ITERS)
    )
    return f"""
    WITH pr AS (
        SELECT event_type AS src,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS dst
        FROM events
    ),
    cells AS (
        SELECT src, dst, COUNT(*) AS c FROM pr
        WHERE dst IS NOT NULL GROUP BY 1, 2
    ),
    st0 AS (SELECT DISTINCT src AS state FROM cells){closure},
    states AS (SELECT state FROM st{_MARKOV_CLOSURE_STEPS}),
    cells2 AS (
        SELECT c.* FROM cells c
        JOIN states sd ON sd.state = c.dst
        JOIN states ss ON ss.state = c.src
    ),
    rt AS (SELECT src, SUM(c) AS rc FROM cells2 GROUP BY src),
    p AS (
        SELECT c.src, c.dst, CAST(c.c AS DOUBLE) / rt.rc AS p
        FROM cells2 c JOIN rt ON rt.src = c.src
    ),
    k AS (SELECT COUNT(*) AS k FROM states),
    v0 AS (SELECT state, 1.0 / k.k AS prob FROM states, k){steps},
    emp AS (SELECT src AS state, SUM(c) AS cs FROM cells2 GROUP BY src),
    tot AS (SELECT SUM(c) AS n FROM cells2)
    SELECT v.state AS state, ROUND(v.prob, 6) AS stationary_prob,
           ROUND(CAST(emp.cs AS DOUBLE) / tot.n, 6) AS src_share
    FROM v{_MARKOV_ITERS} v JOIN emp ON emp.state = v.state, tot
    ORDER BY v.state
    """


@query("event_markov_stationary", oracle=_markov_oracle())
def q_event_markov_stationary(spark, t):
    """Stationary distribution of the user-journey event-type Markov
    chain via 8 unrolled power iterations — where traffic SETTLES if
    the observed transition behavior persists, vs where it currently
    is (src_share). markov_next_event_accuracy grades the chain's
    one-step predictions; this reads its long-run equilibrium — the
    steady-state funnel mix the dashboard's event KPIs trend toward.

    Determinism: the transition matrix is exact BIGINT counts; each
    iteration's 5-term dot products are re-quantized to 12 decimals
    (ROUND(...,12) on BOTH engines) so float merge-order noise
    (~1e-17) can never compound across iterations. Chain closure
    (ADVICE-r10, iterated to FIXPOINT): the source set is shrunk
    until every surviving state has at least one out-transition that
    stays inside the set (8 unrolled semi-join steps — the exact
    fixpoint for up to 9 initial event types, see
    _MARKOV_CLOSURE_STEPS), then transitions leaving the set are
    dropped and rows renormalized; every renormalized row sums to
    exactly 1, so the iteration conserves probability mass BY
    CONSTRUCTION — the former single-pass closure could strand a
    source whose every destination was dropped and silently leak its
    mass. On this data every event type survives, so the closure is
    a no-op guard; on a pure-DAG chain both engines return the same
    empty result.

    Scale shape: ONE fact pass builds (src, dst) counts (LEAD is
    key-partitioned by user); everything after runs on the ~k^2-row
    transition frame (k = event types, ~5) — the 8 iterations are
    joins of broadcast 5-row frames, no driver collect."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pr = t["events"].select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    # pinned: the tiny transition-cell frame feeds the closure check,
    # row totals, empirical shares, and the grand total
    cells = pin(
        pr.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))
    )
    # closure to FIXPOINT (ADVICE-r10; see _MARKOV_CLOSURE_STEPS):
    # keep only states that can take a step staying inside the set —
    # each step is a broadcast semi-join on the <=k^2-cell frame
    states = cells.select(F.col("src").alias("state")).distinct()
    for _ in range(_MARKOV_CLOSURE_STEPS):
        states = (
            cells.join(
                F.broadcast(states.select(F.col("state").alias("dst"))),
                "dst",
            )
            .select(F.col("src").alias("state"))
            .distinct()
        )
    cells2 = cells.join(
        F.broadcast(states.select(F.col("state").alias("dst"))), "dst"
    ).join(F.broadcast(states.select(F.col("state").alias("src"))), "src")
    rt = cells2.groupBy("src").agg(F.sum("c").alias("rc"))
    p = pin(
        cells2.join(F.broadcast(rt), "src").select(
            "src", "dst", (F.col("c").cast("double") / F.col("rc")).alias("p")
        )
    )
    k = states.agg(F.count(F.lit(1)).alias("k"))
    v = states.crossJoin(F.broadcast(k)).select(
        "state", (F.lit(1.0) / F.col("k")).alias("prob")
    )
    for _ in range(_MARKOV_ITERS):
        v = (
            v.join(F.broadcast(p), v["state"] == p["src"])
            .groupBy("dst")
            .agg(F.round(F.sum(F.col("prob") * F.col("p")), 12).alias("prob"))
            .select(F.col("dst").alias("state"), "prob")
        )
    emp = cells2.groupBy("src").agg(F.sum("c").alias("cs"))
    tot = cells2.agg(F.sum("c").alias("n"))
    return (
        v.join(
            F.broadcast(emp.select(F.col("src").alias("state"), "cs")),
            "state",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "state",
            F.round("prob", 6).alias("stationary_prob"),
            F.round(F.col("cs").cast("double") / F.col("n"), 6).alias(
                "src_share"
            ),
        )
        .orderBy("state")
    )


# --------------------------------------------------------------------------
# 7. Triplet-margin diagnostics over labeled embeddings
# --------------------------------------------------------------------------

@query(
    "emb_triplet_margin_stats",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    anch AS (
        SELECT vec_id, label, v,
               LEAD(v) OVER (
                   PARTITION BY label ORDER BY vec_id) AS pv
        FROM e
    ),
    tri AS (
        SELECT a.v AS av, a.pv AS pv, n.v AS nv
        FROM anch a
        JOIN e n ON n.vec_id = a.vec_id + 17 AND n.label <> a.label
        WHERE a.vec_id % 4 = 0 AND a.pv IS NOT NULL
    ),
    m AS (
        SELECT CAST(ROUND((
                   list_dot_product(av, pv)
                   / (sqrt(list_dot_product(av, av))
                      * sqrt(list_dot_product(pv, pv)))
                   - list_dot_product(av, nv)
                     / (sqrt(list_dot_product(av, av))
                        * sqrt(list_dot_product(nv, nv)))
               ) * 1000000) AS BIGINT) AS margin_e6
        FROM tri
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triplets,
           ROUND(SUM(margin_e6) / (COUNT(*) * 1000000.0), 6)
               AS mean_margin,
           ROUND(SUM(CASE WHEN margin_e6 < 0 THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS violation_rate,
           ROUND(percentile_cont(0.1)
                 WITHIN GROUP (ORDER BY margin_e6) / 1000000.0, 6)
               AS p10_margin,
           ROUND(percentile_cont(0.9)
                 WITHIN GROUP (ORDER BY margin_e6) / 1000000.0, 6)
               AS p90_margin
    FROM m
    """,
)
def q_emb_triplet_margin_stats(spark, t):
    """Metric-learning triplet diagnostics: for deterministic
    (anchor, positive, negative) triplets — anchor = every 4th
    vector, positive = its next same-label neighbor by id, negative =
    the id+17 vector when differently labeled — the distribution of
    the cosine margin cos(a,p) - cos(a,n) and the violation rate
    (margin < 0 = the negative is CLOSER than the positive). The
    embedding-space health check behind every contrastive training
    run: emb_label_knn_accuracy grades a classifier, this grades the
    GEOMETRY the classifier depends on.

    Determinism: margins are integerized per triplet (ROUND(m*1e6)
    BIGINT) before any aggregation; percentiles interpolate over
    exact integers.

    Scale shape: the positive vector rides the label-partitioned
    LEAD (no join back), so triplet construction is ONE window + ONE
    keyed equi-join (vec_id+17 negatives) — no similarity search, no
    pair explosion; margins are one map-side projection over the
    joined frame."""
    from ..llmdata.similarity import cosine

    e = ensure_parallelism(t["embeddings"]).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # the positive VECTOR rides the label-partitioned LEAD directly —
    # no join back for positives, so triplet construction is one
    # window + ONE keyed join (negatives)
    wl = Window.partitionBy("label").orderBy("vec_id")
    anch = e.select(
        "vec_id", "label", "v", F.lead("v").over(wl).alias("pv")
    ).filter((F.col("vec_id") % 4 == 0) & F.col("pv").isNotNull())
    n = e.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("nlabel"),
        F.col("v").alias("nv"),
    )
    tri = (
        anch.withColumn("neg_id", F.col("vec_id") + 17)
        .join(n, "neg_id")
        .filter(F.col("nlabel") != F.col("label"))
    )
    m = tri.select(
        F.round(
            (cosine(F.col("v"), F.col("pv")) - cosine(F.col("v"), F.col("nv")))
            * 1000000
        )
        .cast("long")
        .alias("margin_e6")
    )
    return m.agg(
        F.count(F.lit(1)).cast("long").alias("n_triplets"),
        F.round(
            F.sum("margin_e6") / (F.count(F.lit(1)) * 1000000.0), 6
        ).alias("mean_margin"),
        F.round(
            F.sum(F.when(F.col("margin_e6") < 0, 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1)),
            4,
        ).alias("violation_rate"),
        F.round(
            F.expr("percentile_cont(0.1) WITHIN GROUP (ORDER BY margin_e6)")
            / 1000000.0,
            6,
        ).alias("p10_margin"),
        F.round(
            F.expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY margin_e6)")
            / 1000000.0,
            6,
        ).alias("p90_margin"),
    )


# --------------------------------------------------------------------------
# 8. Newman modularity of the nation partition on the supplier graph
# --------------------------------------------------------------------------

@query(
    "supplier_graph_nation_modularity",
    oracle="""
    WITH sp AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    e AS (
        SELECT DISTINCT a.s AS s1, b.s AS s2
        FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
    ),
    m AS (SELECT COUNT(*) AS m FROM e),
    deg AS (
        SELECT s, COUNT(*) AS d
        FROM (SELECT s1 AS s FROM e UNION ALL SELECT s2 AS s FROM e) u
        GROUP BY s
    ),
    nat AS (SELECT s_suppkey AS s, s_nationkey AS c FROM supplier),
    w AS (
        SELECT n1.c, COUNT(*) AS mcc
        FROM e
        JOIN nat n1 ON n1.s = e.s1
        JOIN nat n2 ON n2.s = e.s2 AND n2.c = n1.c
        GROUP BY n1.c
    ),
    dc AS (
        SELECT nat.c, SUM(deg.d) AS dc
        FROM deg JOIN nat ON nat.s = deg.s GROUP BY nat.c
    ),
    terms AS (
        SELECT CAST(ROUND((COALESCE(w.mcc, 0) * 1.0 / m.m
                           - (dc.dc * 0.5 / m.m) * (dc.dc * 0.5 / m.m))
                          * 1000000000) AS BIGINT) AS t_e9
        FROM dc LEFT JOIN w ON w.c = dc.c, m
    )
    SELECT (SELECT CAST(m AS BIGINT) FROM m) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dc) AS n_communities,
           ROUND(SUM(t_e9) / 1000000000.0, 6) AS modularity
    FROM terms
    """,
)
def q_supplier_graph_nation_modularity(spark, t):
    """Newman modularity of the NATION partition over the
    shared-part supplier graph (suppliers adjacent when they ship
    the same part): Q = sum_c [m_cc/m - (d_c/2m)^2]. Positive Q =
    trade clusters along nation lines more than degree alone
    predicts; ~0 = nations are irrelevant to sourcing structure.
    supplier_part_degree_assortativity reads degree-degree mixing;
    this reads COMMUNITY mixing against a hypothesis partition — the
    two standard graph-structure probes, now both present.

    Scale shape: edge generation is keyed ON THE PART (bounded
    suppliers-per-part fanout, the supplier_shared_part_jaccard
    precedent), deduped once at pair grain; degrees and
    within-community counts are keyed aggregations; the Q terms are
    per-nation doubles from exact integer counts, e9-integerized
    before the final sum."""
    # pinned: both sides of the part-keyed self-join read ONE
    # materialization of the distinct (supplier, part) frame — one
    # fact scan instead of two
    sp = pin(
        t["lineitem"]
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = sp.alias("a"), sp.alias("b")
    # pinned: the edge frame feeds total, degrees, and within-counts
    e = pin(
        a.join(
            b,
            (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")),
        )
        .select(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .distinct()
    )
    m = e.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        e.select(F.col("s1").alias("s"))
        .unionAll(e.select(F.col("s2").alias("s")))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # pinned: the tiny supplier dim feeds both edge endpoints and the
    # degree rollup — one dim scan
    nat = pin(
        t["supplier"].select(
            F.col("s_suppkey").alias("s"), F.col("s_nationkey").alias("c")
        )
    )
    n1 = nat.select(F.col("s").alias("s1"), F.col("c").alias("c1"))
    n2 = nat.select(F.col("s").alias("s2"), F.col("c").alias("c2"))
    w = (
        e.join(F.broadcast(n1), "s1")
        .join(F.broadcast(n2), "s2")
        .filter(F.col("c1") == F.col("c2"))
        .groupBy(F.col("c1").alias("c"))
        .agg(F.count(F.lit(1)).alias("mcc"))
    )
    dc = (
        deg.join(F.broadcast(nat), "s")
        .groupBy("c")
        .agg(F.sum("d").alias("dc"))
    )
    terms = (
        dc.join(F.broadcast(w), "c", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.round(
                (
                    F.coalesce(F.col("mcc"), F.lit(0)) * 1.0 / F.col("m")
                    - (F.col("dc") * 0.5 / F.col("m"))
                    * (F.col("dc") * 0.5 / F.col("m"))
                )
                * 1000000000
            )
            .cast("long")
            .alias("t_e9")
        )
    )
    # terms preserves every dc row (left join), so the community
    # count rides the same aggregation — no second pass over dc
    return (
        terms.agg(
            F.sum("t_e9").alias("q_e9"),
            F.count(F.lit(1)).alias("n_communities"),
        )
        .crossJoin(F.broadcast(m))
        .select(
            F.col("m").cast("long").alias("n_edges"),
            F.col("n_communities").cast("long").alias("n_communities"),
            F.round(F.col("q_e9") / 1000000000.0, 6).alias("modularity"),
        )
    )


# --------------------------------------------------------------------------
# 9. Jensen-Shannon divergence between the train and test splits
# --------------------------------------------------------------------------

_JS_TERM = (
    "CAST(ROUND(("
    "CASE WHEN cp > 0 THEN 0.5 * (CAST(cp AS DOUBLE) / np)"
    " * log2(2.0 * (CAST(cp AS DOUBLE) / np)"
    " / (CAST(cp AS DOUBLE) / np + CAST(cq AS DOUBLE) / nq))"
    " ELSE 0.0 END"
    " + CASE WHEN cq > 0 THEN 0.5 * (CAST(cq AS DOUBLE) / nq)"
    " * log2(2.0 * (CAST(cq AS DOUBLE) / nq)"
    " / (CAST(cp AS DOUBLE) / np + CAST(cq AS DOUBLE) / nq))"
    " ELSE 0.0 END) * 1000000000) AS BIGINT)"
)


@query(
    "doc_train_test_js_divergence",
    oracle=rf"""
    WITH toks AS (
        SELECT CASE WHEN doc_id % 10 < 8 THEN 1 ELSE 0 END AS is_train,
               UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents
    ),
    tc AS (
        SELECT tok,
               SUM(is_train) AS cp,
               SUM(1 - is_train) AS cq
        FROM toks GROUP BY tok
    ),
    tot AS (SELECT SUM(cp) AS np, SUM(cq) AS nq FROM tc),
    terms AS (SELECT {_JS_TERM} AS term_e9 FROM tc, tot)
    SELECT (SELECT CAST(np AS BIGINT) FROM tot) AS n_train_tokens,
           (SELECT CAST(nq AS BIGINT) FROM tot) AS n_test_tokens,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tc
            WHERE cp > 0 AND cq > 0) AS shared_vocab,
           ROUND(SUM(term_e9) / 1000000000.0, 6) AS js_bits
    FROM terms
    """,
)
def q_doc_train_test_js_divergence(spark, t):
    """Jensen-Shannon divergence between the train split's and the
    test split's unigram distributions (doc_id % 10 < 8 — the
    deterministic 80/20 rule of doc_train_split). The SYMMETRIC,
    bounded [0,1]-bits divergence that makes 'did my held-out split
    drift from training?' a comparable number across corpora — KL
    (doc_source_kl_divergence) is asymmetric and unbounded, PSI
    (doc_source_length_psi) needs binning. JS near 0 = the split is
    exchangeable; large JS = leakage-prone stratification.

    Scale shape: token unfold is map-side; ONE (token) aggregation
    carries both split counts as conditional sums (no second corpus
    pass, no join of two marginal frames); totals broadcast; each
    token's JS term is a fixed-order double from exact integer
    counts, e9-integerized before the final integer sum."""
    from ..llmdata.text import tokens_col

    toks = ensure_parallelism(t["documents"]).select(
        F.when(F.col("doc_id") % 10 < 8, 1).otherwise(0).alias("is_train"),
        F.explode(tokens_col("text")).alias("tok"),
    )
    # pinned: the vocab-grain count frame feeds totals, shared-vocab,
    # and the term sum
    tc = pin(
        toks.groupBy("tok").agg(
            F.sum("is_train").alias("cp"),
            F.sum(1 - F.col("is_train")).alias("cq"),
        )
    )
    tot = tc.agg(F.sum("cp").alias("np"), F.sum("cq").alias("nq"))
    shared = tc.filter((F.col("cp") > 0) & (F.col("cq") > 0)).agg(
        F.count(F.lit(1)).alias("shared_vocab")
    )
    terms = tc.crossJoin(F.broadcast(tot)).select(
        F.expr(_JS_TERM).alias("term_e9")
    )
    return (
        terms.agg(F.sum("term_e9").alias("js_e9"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(shared))
        .select(
            F.col("np").cast("long").alias("n_train_tokens"),
            F.col("nq").cast("long").alias("n_test_tokens"),
            F.col("shared_vocab").cast("long").alias("shared_vocab"),
            F.round(F.col("js_e9") / 1000000000.0, 6).alias("js_bits"),
        )
    )


# --------------------------------------------------------------------------
# 10. Circular (time-of-day) statistics per event type
# --------------------------------------------------------------------------

@query(
    "event_hour_circular_stats",
    oracle="""
    WITH s AS (
        SELECT event_type,
               2 * pi() * (EXTRACT(HOUR FROM ts) * 3600
                           + EXTRACT(MINUTE FROM ts) * 60
                           + CAST(FLOOR(EXTRACT(SECOND FROM ts)) AS BIGINT))
                   / 86400 AS theta
        FROM events
    ),
    a AS (
        SELECT event_type, COUNT(*) AS n,
               SUM(CAST(ROUND(cos(theta) * 1000000) AS BIGINT)) AS c_e6,
               SUM(CAST(ROUND(sin(theta) * 1000000) AS BIGINT)) AS s_e6
        FROM s GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           ROUND(SQRT(CAST(c_e6 AS DOUBLE) * c_e6
                      + CAST(s_e6 AS DOUBLE) * s_e6)
                 / (n * 1000000.0), 6) AS resultant_r,
           ROUND((CASE WHEN atan2(CAST(s_e6 AS DOUBLE),
                                  CAST(c_e6 AS DOUBLE)) < 0
                       THEN atan2(CAST(s_e6 AS DOUBLE),
                                  CAST(c_e6 AS DOUBLE)) + 2 * pi()
                       ELSE atan2(CAST(s_e6 AS DOUBLE),
                                  CAST(c_e6 AS DOUBLE)) END)
                 / (2 * pi()) * 24, 4) AS mean_hour
    FROM a ORDER BY event_type
    """,
)
def q_event_hour_circular_stats(spark, t):
    """Circular statistics of each event type's time of day: the mean
    DIRECTION (peak hour on the 24h clock) and the resultant length R
    (1 = all events at one instant, 0 = uniform around the clock).
    activity_heatmap bins hours and error_share_by_hour reads shares;
    circular stats treat 23:59 and 00:01 as NEIGHBORS — the only
    correct average for wrap-around time, and the standard
    peak-detection primitive for diurnal load models.

    Determinism: theta comes from exact integer
    seconds-since-midnight; per-row cos/sin are e6-integerized before
    the sums (trig ULP is 1e-10 of the rounding quantum); R and the
    atan2 mean direction are pure functions of the exact integer
    sums.

    Scale shape: one map-side projection + one (event_type)
    aggregation with map-side combine — nothing else."""
    theta = (
        F.lit(2.0)
        * 3.141592653589793
        * (F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts"))
        / 86400
    )
    a = (
        t["events"]
        .select("event_type", theta.alias("theta"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.cos("theta") * 1000000).cast("long")).alias(
                "c_e6"
            ),
            F.sum(F.round(F.sin("theta") * 1000000).cast("long")).alias(
                "s_e6"
            ),
        )
    )
    at = F.atan2(F.col("s_e6").cast("double"), F.col("c_e6").cast("double"))
    return a.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.round(
            F.sqrt(
                F.col("c_e6").cast("double") * F.col("c_e6")
                + F.col("s_e6").cast("double") * F.col("s_e6")
            )
            / (F.col("n") * 1000000.0),
            6,
        ).alias("resultant_r"),
        F.round(
            F.when(at < 0, at + F.lit(2.0) * 3.141592653589793).otherwise(at)
            / (F.lit(2.0) * 3.141592653589793)
            * 24,
            4,
        ).alias("mean_hour"),
    ).orderBy("event_type")
