"""Round-10-staged corpus additions (registered in round 9, positions
51+ of the registration order — AFTER the round-9 driver window, so
the window stays exactly 50): a Wald-Wolfowitz runs test, Poisson
overdispersion of order depth, bytes-per-token tokenizer efficiency,
a character n-gram entropy-rate curve, a sessionization-threshold
sensitivity sweep, bipartite degree assortativity, weekday habit
strength, quantity-discount mutual information, a k-means k-sweep,
a Welch two-sample t test, and token-position entropy.

Reference anchors: the dashboard's trend/seasonality views
(app.py:281-340) get their randomness test (runs) and their
distribution-free two-sample test (Welch t on late vs on-time);
the order-depth histogram (app.py:399-420) gets its count-model
diagnostic; the LLM-data entries extend the text-analysis and
clustering audit families (SURVEY.md §2 M7).

Every query follows the exact-determinism levers: cents as BIGINT,
DECIMAL(38,0) for squared/pair sums, per-row ROUND(x*1e6/1e9) BIGINT
integerization before float-sensitive sums (the emb_kmeans_inertia
lever), and fixed-order scalar projections.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..functions.money import L_REV_CENTS, O_CENTS, l_rev_cents, o_cents
from ..operators.partitioning import ensure_parallelism
from .corpus import ORACLES, QUERIES, query  # noqa: F401


# --------------------------------------------------------------------------
# 1. Wald-Wolfowitz runs test on daily revenue
# --------------------------------------------------------------------------

@query(
    "daily_revenue_runs_test",
    oracle=f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day, SUM({O_CENTS}) AS cents
        FROM orders GROUP BY 1
    ),
    med AS (
        SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY cents) AS m
        FROM d
    ),
    s AS (
        SELECT day, CASE WHEN cents > m THEN 1 ELSE 0 END AS sgn
        FROM d, med WHERE CAST(cents AS DOUBLE) <> m
    ),
    r AS (
        SELECT sgn, LAG(sgn) OVER (ORDER BY day) AS prev FROM s
    ),
    agg AS (
        SELECT COUNT(*) AS n,
               SUM(sgn) AS n1,
               SUM(1 - sgn) AS n2,
               1 + SUM(CASE WHEN prev IS NOT NULL AND sgn <> prev
                            THEN 1 ELSE 0 END) AS runs
        FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_days_used,
           CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           CAST(runs AS BIGINT) AS n_runs,
           ROUND((CAST(runs AS DOUBLE)
                  - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                           * (n1 + n2 - 1))), 4) AS z_score
    FROM agg
    """,
)
def q_daily_revenue_runs_test(spark, t):
    """Wald-Wolfowitz runs test: is the daily-revenue series RANDOM
    around its median, or does it cluster into above/below streaks?
    Days above the median are 1, below are 0 (median days dropped),
    and the number of runs is compared to its expectation under
    exchangeability. Too few runs = persistent regimes (what
    daily_revenue_volatility_regimes assumes exists); too many =
    oscillation. The randomness gate for every trend read
    (daily_revenue_mann_kendall tests direction; this tests
    structure).

    Scale shape: ONE day-grain rollup over the fact, then the median,
    sign LAG chain, and run count all live on the CALENDAR-BOUNDED
    day frame (~2.4k rows at any SF — allowlisted bounded
    unpartitioned window, like daily_revenue_autocorr)."""
    d = t["orders"].groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(o_cents()).alias("cents"))
    med = d.agg(F.expr("percentile(cents, 0.5)").alias("m"))
    s = (
        d.crossJoin(F.broadcast(med))
        .filter(F.col("cents").cast("double") != F.col("m"))
        .select(
            "day",
            F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("sgn"),
        )
    )
    r = s.select(
        "sgn", F.lag("sgn").over(Window.orderBy("day")).alias("prev")
    )
    agg = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sgn").alias("n1"),
        F.sum(1 - F.col("sgn")).alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("sgn") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        ).alias("runs"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    ntot = n1d + n2d
    mu = 2.0 * n1d * n2d / ntot + 1
    var = (
        2.0 * n1d * n2d * (2.0 * n1d * n2d - n1d - n2d)
        / (ntot * ntot * (ntot - 1))
    )
    return agg.select(
        F.col("n").cast("long").alias("n_days_used"),
        F.col("n1").cast("long").alias("n_above"),
        F.col("n2").cast("long").alias("n_below"),
        F.col("runs").cast("long").alias("n_runs"),
        F.round((F.col("runs").cast("double") - mu) / F.sqrt(var), 4).alias(
            "z_score"
        ),
    )


# --------------------------------------------------------------------------
# 2. Poisson overdispersion of order depth
# --------------------------------------------------------------------------

@query(
    "order_linecount_dispersion",
    oracle="""
    WITH lc AS (
        SELECT l_orderkey, COUNT(*) AS c FROM lineitem GROUP BY l_orderkey
    ),
    agg AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(c AS DECIMAL(38,0))) AS s,
               SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS ss
        FROM lc
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           ROUND(CAST(s AS DOUBLE) / n, 4) AS mean_lines,
           ROUND((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / (CAST(n AS DOUBLE) * (n - 1))
                 / (CAST(s AS DOUBLE) / n), 4) AS vmr,
           ROUND(sqrt(2.0 * ((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                             / (CAST(n AS DOUBLE) * (n - 1))
                             / (CAST(s AS DOUBLE) / n)) * (n - 1))
                 - sqrt(2.0 * (n - 1) - 1), 4) AS dispersion_z
    FROM agg
    """,
)
def q_order_linecount_dispersion(spark, t):
    """Poisson overdispersion diagnostic for order depth: the
    variance-to-mean ratio of lines-per-order (VMR = 1 under Poisson
    arrivals) and the Wilson-Hilferty normal approximation of the
    chi-square dispersion index. VMR >> 1 says order sizes cluster
    (basket-driven, not independent-arrival) — the modeling
    assumption behind order_linecount_histogram's shape and
    q13_order_count_distribution's tail, tested instead of eyeballed.
    Orders are the lineitem-bearing ones (order-grain count rollup).

    Scale shape: one order-grain count rollup, one scalar moment
    aggregate with DECIMAL(38,0) sum/sum-of-squares, all quotients in
    a fixed-order 1-row projection."""
    lc = t["lineitem"].groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("c")
    )
    dec = "decimal(38,0)"
    agg = lc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c").cast(dec)).alias("s"),
        F.sum(F.col("c").cast(dec) * F.col("c").cast(dec)).alias("ss"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    mean = sd / F.col("n")
    var = (nd * ssd - sd * sd) / (nd * (F.col("n") - 1))
    vmr = var / mean
    return agg.select(
        F.col("n").cast("long").alias("n_orders"),
        F.round(mean, 4).alias("mean_lines"),
        F.round(vmr, 4).alias("vmr"),
        F.round(
            F.sqrt(2.0 * vmr * (F.col("n") - 1))
            - F.sqrt(2.0 * (F.col("n") - 1) - 1),
            4,
        ).alias("dispersion_z"),
    )


# --------------------------------------------------------------------------
# 3. Bytes-per-token tokenizer efficiency by language
# --------------------------------------------------------------------------

@query(
    "doc_bytes_per_token_by_lang",
    oracle="""
    WITH d AS (
        SELECT lang, n_chars,
               length(text) - length(replace(text, ' ', '')) + 1 AS toks
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_chars) * 1.0 / SUM(toks), 4) AS chars_per_token,
           ROUND(SUM(toks) * 1.0 / COUNT(*), 2) AS tokens_per_doc
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def q_doc_bytes_per_token_by_lang(spark, t):
    """Tokenizer-efficiency read: characters per whitespace token by
    language — the compression-rate number that prices a language's
    context-window cost and flags scripts where whitespace
    tokenization undercounts (doc_token_stats counts tokens; this
    prices them). Token count is the established string-arithmetic
    form (length - length(replace) + 1 — the portable token-counting
    precedent), so the whole query is map-side codegen.

    Scale shape: one map-side projection, one bounded lang-grain
    rollup; every ratio divides pooled exact BIGINTs (never averaged
    per-row floats — the pooled-ratio determinism lever)."""
    d = t["documents"].select(
        "lang",
        "n_chars",
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), " ", ""))
            + 1
        ).alias("toks"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("toks").cast("long").alias("total_tokens"),
            F.round(F.sum("n_chars") * 1.0 / F.sum("toks"), 4).alias(
                "chars_per_token"
            ),
            F.round(F.sum("toks") * 1.0 / F.count(F.lit(1)), 2).alias(
                "tokens_per_doc"
            ),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# 4. Character n-gram entropy-rate curve
# --------------------------------------------------------------------------

_ENT_NS = (1, 2, 3, 4)


def _entropy_oracle() -> str:
    grams = "\n    UNION ALL\n".join(
        f"""    SELECT {n} AS n, substr(lower(trim(d.text)), CAST(t.i AS INT), {n}) AS g
    FROM documents d, range(1, 1024) t(i)
    WHERE length(lower(trim(d.text))) >= {n}
      AND t.i <= length(lower(trim(d.text))) - {n - 1}"""
        for n in _ENT_NS
    )
    return f"""
    WITH grams AS (
{grams}
    ),
    cnt AS (SELECT n, g, COUNT(*) AS c FROM grams GROUP BY n, g),
    h AS (
        SELECT n,
               SUM(c) AS total,
               COUNT(*) AS distincts,
               SUM(CAST(ROUND(c * log2(c) * 1000000) AS BIGINT)) AS clogc_e6
        FROM cnt GROUP BY n
    ),
    e AS (
        SELECT n, total, distincts,
               log2(CAST(total AS DOUBLE))
                   - (CAST(clogc_e6 AS DOUBLE) / 1000000) / total AS hn
        FROM h
    )
    SELECT a.n,
           CAST(a.total AS BIGINT) AS total_grams,
           CAST(a.distincts AS BIGINT) AS distinct_grams,
           ROUND(a.hn, 4) AS entropy_bits,
           ROUND(a.hn - b.hn, 4) AS cond_entropy_bits
    FROM e a LEFT JOIN e b ON b.n = a.n - 1
    ORDER BY a.n
    """


@query("doc_char_ngram_entropy_curve", oracle=_entropy_oracle())
def q_doc_char_ngram_entropy_curve(spark, t):
    """Character-level entropy-rate curve: corpus Shannon entropy of
    n-grams for n = 1..4 and the conditional entropy H_n - H_(n-1) —
    the bits-per-character estimate as context grows. The curve's
    plateau approximates the source's true entropy rate (the
    compressibility floor doc_compressibility_proxy estimates per
    document, measured properly at corpus level); a language/corpus
    whose curve shifts between crawls has changed character
    statistics before any model sees it.

    Scale shape: gram unfolds are map-side substr projections (linear
    in characters, 4 passes); counts shuffle at (n, gram) grain with
    map-side combine; each gram row contributes an exact
    ROUND(c*log2(c)*1e6) BIGINT so the per-n entropy sum is an
    integer aggregation (the emb_kmeans_inertia integerization lever
    — no float merge-order sensitivity); the curve join runs on the
    bounded 4-row frame. The oracle's constant-bound ``range(1,
    1024)`` unfold is guarded by tests/test_oracle_bounds.py (fails
    loudly at 80% of the bound, before silent truncation)."""
    docs = ensure_parallelism(t["documents"]).select(
        F.lower(F.trim(F.col("text"))).alias("nt")
    )
    frames = []
    for n in _ENT_NS:
        frames.append(
            docs.filter(F.length("nt") >= n).select(
                F.lit(n).alias("n"),
                F.explode(
                    F.expr(
                        f"transform(sequence(1, length(nt) - {n - 1}), "
                        f"i -> substr(nt, i, {n}))"
                    )
                ).alias("g"),
            )
        )
    grams = frames[0]
    for fr in frames[1:]:
        grams = grams.unionByName(fr)
    cnt = grams.groupBy("n", "g").agg(F.count(F.lit(1)).alias("c"))
    h = cnt.groupBy("n").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("distincts"),
        F.sum(
            F.round(F.col("c") * F.log2("c") * 1000000).cast("long")
        ).alias("clogc_e6"),
    )
    e = h.select(
        "n",
        "total",
        "distincts",
        (
            F.log2(F.col("total").cast("double"))
            - (F.col("clogc_e6").cast("double") / 1000000) / F.col("total")
        ).alias("hn"),
    )
    b = e.select(
        (F.col("n") + 1).alias("bn"), F.col("hn").alias("prev_hn")
    )
    return (
        e.join(F.broadcast(b), F.col("n") == F.col("bn"), "left")
        .select(
            "n",
            F.col("total").cast("long").alias("total_grams"),
            F.col("distincts").cast("long").alias("distinct_grams"),
            F.round("hn", 4).alias("entropy_bits"),
            F.round(F.col("hn") - F.col("prev_hn"), 4).alias(
                "cond_entropy_bits"
            ),
        )
        .orderBy("n")
    )


# --------------------------------------------------------------------------
# 5. Sessionization-threshold sensitivity sweep
# --------------------------------------------------------------------------

_GAP_SWEEP_MIN = (15, 30, 60)


def _gap_sweep_oracle() -> str:
    conds = ", ".join(
        f"SUM(CASE WHEN prev IS NOT NULL AND ts > prev + INTERVAL {m} MINUTE"
        f" THEN 1 ELSE 0 END) AS brk{m}"
        for m in _GAP_SWEEP_MIN
    )
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT {m} AS threshold_min,
           CAST(n_users + brk{m} AS BIGINT) AS n_sessions,
           ROUND(n_events * 1.0 / (n_users + brk{m}), 4)
               AS avg_events_per_session
    FROM agg"""
        for m in _GAP_SWEEP_MIN
    )
    return f"""
    WITH seq AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev
        FROM events
    ),
    agg AS (
        SELECT COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               {conds}
        FROM seq
    )
{rows}
    ORDER BY threshold_min
    """


@query("session_gap_threshold_sweep", oracle=_gap_sweep_oracle())
def q_session_gap_threshold_sweep(spark, t):
    """Sessionization-parameter sensitivity: how many sessions (and
    how many events per session) the corpus yields at 15/30/60-minute
    inactivity gaps. The session count at threshold T is
    n_users + #(gaps > T) — computed for ALL thresholds in ONE pass
    over the per-user LAG chain, the same sweep contract
    events_watermark_drop_sweep provides for watermark delay: pick
    the knee before committing the streaming session_window
    configuration (session_windows hardcodes 30min; this is why).

    Scale shape: one user-partitioned LAG window (the sessionization
    partitioning), ONE scalar aggregate carrying a conditional sum
    per threshold, then a 3-row constant unpivot. Gap comparisons use
    INTERVAL arithmetic on microsecond timestamps (never epoch-second
    casts — the events.ts lesson)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev")
    )
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    ]
    for m in _GAP_SWEEP_MIN:
        aggs.append(
            F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (
                        F.col("ts")
                        > F.col("prev") + F.expr(f"INTERVAL {m} MINUTE")
                    ),
                    1,
                ).otherwise(0)
            ).alias(f"brk{m}")
        )
    agg = seq.agg(*aggs)
    parts = []
    for m in _GAP_SWEEP_MIN:
        parts.append(
            agg.select(
                F.lit(m).alias("threshold_min"),
                (F.col("n_users") + F.col(f"brk{m}"))
                .cast("long")
                .alias("n_sessions"),
                F.round(
                    F.col("n_events")
                    * 1.0
                    / (F.col("n_users") + F.col(f"brk{m}")),
                    4,
                ).alias("avg_events_per_session"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("threshold_min")


# --------------------------------------------------------------------------
# 6. Supplier-part bipartite degree assortativity
# --------------------------------------------------------------------------

@query(
    "supplier_part_degree_assortativity",
    oracle="""
    WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    ds AS (SELECT s, COUNT(*) AS d FROM e GROUP BY s),
    dp AS (SELECT p, COUNT(*) AS d FROM e GROUP BY p),
    j AS (
        SELECT ds.d AS x, dp.d AS y
        FROM e JOIN ds ON ds.s = e.s JOIN dp ON dp.p = e.p
    ),
    agg AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(x AS DECIMAL(38,0))) AS sx,
               SUM(CAST(y AS DECIMAL(38,0))) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
        FROM j
    )
    SELECT CAST(n AS BIGINT) AS n_edges,
           (SELECT COUNT(*) FROM ds) AS n_suppliers,
           (SELECT COUNT(*) FROM dp) AS n_parts,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
               AS assortativity_r
    FROM agg
    """,
)
def q_supplier_part_degree_assortativity(spark, t):
    """Degree assortativity of the supplier-part bipartite graph:
    Pearson correlation between a supplier's part-portfolio size and
    the supplier-counts of the parts it carries, over distinct
    supply edges. Negative r = broad suppliers stock niche parts
    (disassortative sourcing, resilient); positive r = hub suppliers
    concentrate on hub parts (fragile — the single number behind
    lineitem_suppkey_skew's histogram and multi_supplier_parts_
    premium's pricing read).

    Scale shape: one distinct-edge rollup, two degree rollups, two
    keyed joins at edge grain (AQE broadcasts the smaller degree
    frame), one scalar moment aggregate in DECIMAL(38,0)."""
    e = t["lineitem"].select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    ds = e.groupBy("s").agg(F.count(F.lit(1)).alias("x"))
    dp = e.groupBy("p").agg(F.count(F.lit(1)).alias("y"))
    j = e.join(ds, "s").join(dp, "p").select("x", "y")
    dec = "decimal(38,0)"
    xd = F.col("x").cast(dec)
    yd = F.col("y").cast(dec)
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    ns = ds.agg(F.count(F.lit(1)).alias("n_suppliers"))
    np_ = dp.agg(F.count(F.lit(1)).alias("n_parts"))
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = F.sqrt(
        (
            nd * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            nd * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return (
        agg.crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(np_))
        .select(
            F.col("n").cast("long").alias("n_edges"),
            F.col("n_suppliers").cast("long").alias("n_suppliers"),
            F.col("n_parts").cast("long").alias("n_parts"),
            F.round(num / den, 6).alias("assortativity_r"),
        )
    )


# --------------------------------------------------------------------------
# 7. Weekday habit strength by order-count band
# --------------------------------------------------------------------------

@query(
    "customer_order_dow_habit_strength",
    oracle="""
    WITH od AS (
        SELECT o_custkey,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-05' AS BIGINT)
                   % 7 AS dow
        FROM orders
    ),
    cd AS (
        SELECT o_custkey, dow, COUNT(*) AS c FROM od GROUP BY o_custkey, dow
    ),
    per AS (
        SELECT o_custkey, SUM(c) AS total, MAX(c) AS top
        FROM cd GROUP BY o_custkey
    ),
    b AS (
        SELECT CASE WHEN total >= 10 THEN 10
                    WHEN total >= 6 THEN 6
                    WHEN total >= 4 THEN 4
                    ELSE 2 END AS band_lo,
               total, top
        FROM per WHERE total >= 2
    )
    SELECT CAST(band_lo AS BIGINT) AS band_lo,
           COUNT(*) AS n_customers,
           CAST(SUM(total) AS BIGINT) AS n_orders,
           ROUND(SUM(top) * 10000.0 / SUM(total), 4) AS pooled_top_dow_bp,
           ROUND(SUM(total) * 1.0 / COUNT(*), 4) AS avg_orders
    FROM b GROUP BY band_lo ORDER BY band_lo
    """,
)
def q_customer_order_dow_habit_strength(spark, t):
    """Do customers order on a habitual weekday? For each customer
    with >= 2 orders, the share of their orders falling on their OWN
    most-frequent weekday, pooled within order-count bands (2-3, 4-5,
    6-9, 10+). Under no habit the pooled share decays toward 1/7 as
    counts grow; a flat-high curve = weekly rhythm worth exploiting
    in send-time optimization. orders_weekday_seasonality reads the
    GLOBAL weekday mix; this reads per-customer consistency (a
    customer ordering every Tuesday is invisible globally).

    The baseline is count-dependent (max of a multinomial), so the
    read is the ACROSS-BAND trend, not a fixed threshold — stated
    here, and the bands make it explicit.

    Scale shape: one (customer, dow) rollup, one customer-grain
    max/total rollup sharing the key prefix, one bounded 4-row band
    rollup; the pooled share divides exact BIGINTs."""
    dow = (
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-05").cast("date")
        ).cast("long")
        % 7
    )
    cd = t["orders"].select(
        "o_custkey", dow.alias("dow")
    ).groupBy("o_custkey", "dow").agg(F.count(F.lit(1)).alias("c"))
    per = cd.groupBy("o_custkey").agg(
        F.sum("c").alias("total"), F.max("c").alias("top")
    )
    b = per.filter(F.col("total") >= 2).select(
        F.when(F.col("total") >= 10, 10)
        .when(F.col("total") >= 6, 6)
        .when(F.col("total") >= 4, 4)
        .otherwise(2)
        .cast("long")
        .alias("band_lo"),
        "total",
        "top",
    )
    return (
        b.groupBy("band_lo")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("total").cast("long").alias("n_orders"),
            F.round(F.sum("top") * 10000.0 / F.sum("total"), 4).alias(
                "pooled_top_dow_bp"
            ),
            F.round(F.sum("total") * 1.0 / F.count(F.lit(1)), 4).alias(
                "avg_orders"
            ),
        )
        .orderBy("band_lo")
    )


# --------------------------------------------------------------------------
# 8. Quantity-discount mutual information
# --------------------------------------------------------------------------

@query(
    "quantity_discount_mutual_information",
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
    mi AS (
        SELECT SUM(CAST(ROUND(
                   (CAST(c AS DOUBLE) / n.n)
                   * log2(CAST(c AS DOUBLE) * n.n
                          / (CAST(cq AS DOUBLE) * cd)) * 1000000000
               ) AS BIGINT)) AS mi_e9
        FROM cells JOIN mq USING (q) JOIN md USING (d), n
    ),
    hq AS (
        SELECT SUM(CAST(ROUND((CAST(cq AS DOUBLE) / n.n)
                   * log2(CAST(n.n AS DOUBLE) / cq) * 1000000000
               ) AS BIGINT)) AS hq_e9
        FROM mq, n
    ),
    hd AS (
        SELECT SUM(CAST(ROUND((CAST(cd AS DOUBLE) / n.n)
                   * log2(CAST(n.n AS DOUBLE) / cd) * 1000000000
               ) AS BIGINT)) AS hd_e9
        FROM md, n
    )
    SELECT CAST(n.n AS BIGINT) AS n_lines,
           ROUND(mi_e9 / 1000000000.0, 6) AS mi_bits,
           ROUND(hq_e9 / 1000000000.0, 6) AS h_quantity_bits,
           ROUND(hd_e9 / 1000000000.0, 6) AS h_discount_bits,
           ROUND(CAST(mi_e9 AS DOUBLE) / LEAST(hq_e9, hd_e9), 6) AS nmi
    FROM n, mi, hq, hd
    """,
)
def q_quantity_discount_mutual_information(spark, t):
    """Mutual information between line quantity (integer units) and
    discount tier (whole percent): how many bits knowing the discount
    tells you about the quantity. MI = 0 means discounting is
    quantity-blind; high NMI (MI over the smaller marginal entropy)
    means tiered volume pricing. The dependence measure
    discount_quantity_stats (linear corr) and
    tax_discount_joint_histogram (raw cells) cannot give — MI catches
    NON-linear coupling.

    Scale shape: one bounded (quantity x discount) cell rollup
    (<= ~550 cells) off the fact, marginals and N derived from the
    cell frame; every p*log2 term is integerized per cell
    (ROUND(x*1e9) BIGINT — the inertia lever) so the sums are exact
    integer aggregations."""
    cells = t["lineitem"].groupBy(
        F.round(F.col("l_quantity")).cast("int").alias("q"),
        F.round(F.col("l_discount") * 100).cast("int").alias("d"),
    ).agg(F.count(F.lit(1)).alias("c"))
    mq = cells.groupBy("q").agg(F.sum("c").alias("cq"))
    md = cells.groupBy("d").agg(F.sum("c").alias("cd"))
    n = cells.agg(F.sum("c").alias("n"))
    joined = (
        cells.join(F.broadcast(mq), "q")
        .join(F.broadcast(md), "d")
        .crossJoin(F.broadcast(n))
    )
    cd_ = F.col("c").cast("double")
    nd = F.col("n").cast("double")
    mi = joined.agg(
        F.sum(
            F.round(
                (cd_ / nd)
                * F.log2(
                    cd_ * nd
                    / (F.col("cq").cast("double") * F.col("cd"))
                )
                * 1000000000
            ).cast("long")
        ).alias("mi_e9")
    )
    hq = mq.crossJoin(F.broadcast(n)).agg(
        F.sum(
            F.round(
                (F.col("cq").cast("double") / nd)
                * F.log2(nd / F.col("cq"))
                * 1000000000
            ).cast("long")
        ).alias("hq_e9")
    )
    hd = md.crossJoin(F.broadcast(n)).agg(
        F.sum(
            F.round(
                (F.col("cd").cast("double") / nd)
                * F.log2(nd / F.col("cd"))
                * 1000000000
            ).cast("long")
        ).alias("hd_e9")
    )
    return (
        n.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hq))
        .crossJoin(F.broadcast(hd))
        .select(
            F.col("n").cast("long").alias("n_lines"),
            F.round(F.col("mi_e9") / 1000000000.0, 6).alias("mi_bits"),
            F.round(F.col("hq_e9") / 1000000000.0, 6).alias(
                "h_quantity_bits"
            ),
            F.round(F.col("hd_e9") / 1000000000.0, 6).alias(
                "h_discount_bits"
            ),
            F.round(
                F.col("mi_e9").cast("double")
                / F.least(F.col("hq_e9"), F.col("hd_e9")),
                6,
            ).alias("nmi"),
        )
    )


# --------------------------------------------------------------------------
# 9. k-means k-sweep: inertia and balance vs k
# --------------------------------------------------------------------------

_KSWEEP = (2, 4, 8, 16)


def _ksweep_oracle() -> str:
    parts = []
    for k in _KSWEEP:
        parts.append(f"""    SELECT {k} AS k,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CAST(ROUND(d2 * 1000000) AS BIGINT)) AS BIGINT)
               AS inertia_e6,
           ROUND(MAX(csize) * 10000.0 / COUNT(*), 4) AS max_cluster_bp
    FROM (
        SELECT vec_id, cluster_id, d2,
               COUNT(*) OVER (PARTITION BY cluster_id) AS csize
        FROM (
            SELECT e.vec_id, s.cluster_id,
                   list_sum(list_transform(generate_series(1, len(e.v)),
                       i -> (e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i]))) AS d2,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_sum(list_transform(
                           generate_series(1, len(e.v)),
                           i -> (e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i]))),
                           s.cluster_id) AS rn
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings) e,
                 (SELECT vec_id AS cluster_id,
                         CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings WHERE vec_id < {k}) s
        ) WHERE rn = 1
    )""")
    body = "\n    UNION ALL\n".join(parts)
    return f"""
    {body}
    ORDER BY k
    """


@query("emb_kmeans_k_sweep_inertia", oracle=_ksweep_oracle())
def q_emb_kmeans_k_sweep_inertia(spark, t):
    """The elbow curve, properly: total within-cluster inertia and
    worst cluster share for k = 2/4/8/16 deterministic seedings
    (first-k seeds, the emb_kmeans_assign convention) in one query.
    Where the inertia drop flattens is the k the IVF index and
    SemDeDup bucketing should use; a max_cluster_bp that stays high
    as k grows says the corpus has a dominant mode no k fixes
    (emb_kmeans_inertia reads ONE k at cluster grain; this reads the
    curve).

    Scale shape: 4 map-side argmin assignments over broadcast seed
    literals (nearest_seed_l2 — zero shuffle, no corpus x k
    exchange), each reduced to a bounded k-row cluster rollup;
    per-vector d2 is integerized (ROUND(d2*1e6) BIGINT) before
    summing, so inertia is an exact integer aggregation (the
    emb_kmeans_inertia parity lever)."""
    from ..llmdata.similarity import nearest_seed_l2

    e = ensure_parallelism(t["embeddings"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    all_seeds = sorted(
        (r["vec_id"], r["v"])
        for r in e.filter(F.col("vec_id") < max(_KSWEEP))
        .select("vec_id", "v")
        .collect()
    )
    parts = []
    for k in _KSWEEP:
        seeds = [(sid, v) for sid, v in all_seeds if sid < k]
        asg = e.select(
            nearest_seed_l2(F.col("v"), seeds).alias("__best")
        ).select(
            F.col("__best.cluster_id").alias("cluster_id"),
            F.round(F.col("__best.d2") * 1000000).cast("long").alias("d2e6"),
        )
        sizes = asg.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("csize"),
            F.sum("d2e6").alias("inertia_part"),
        )
        parts.append(
            sizes.agg(
                F.sum("csize").cast("long").alias("n_vectors"),
                F.sum("inertia_part").cast("long").alias("inertia_e6"),
                F.max("csize").alias("max_csize"),
            ).select(
                F.lit(k).alias("k"),
                "n_vectors",
                "inertia_e6",
                F.round(
                    F.col("max_csize") * 10000.0 / F.col("n_vectors"), 4
                ).alias("max_cluster_bp"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "k", "n_vectors", "inertia_e6", "max_cluster_bp"
    ).orderBy("k")


# --------------------------------------------------------------------------
# 10. Welch two-sample t test: late vs on-time line revenue
# --------------------------------------------------------------------------

_LATE_DAYS = 90


@query(
    "late_shipment_value_welch_ttest",
    oracle=f"""
    WITH j AS (
        SELECT {L_REV_CENTS} AS cents,
               CASE WHEN CAST(CAST(l_shipdate AS DATE)
                         - CAST(o_orderdate AS DATE) AS BIGINT)
                         > {_LATE_DAYS}
                    THEN 1 ELSE 0 END AS late
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ),
    agg AS (
        SELECT SUM(late) AS n1,
               SUM(1 - late) AS n2,
               SUM(CASE WHEN late = 1
                        THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END) AS s1,
               SUM(CASE WHEN late = 0
                        THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END) AS s2,
               SUM(CASE WHEN late = 1
                        THEN CAST(cents AS DECIMAL(38,0))
                             * CAST(cents AS DECIMAL(38,0))
                        ELSE 0 END) AS ss1,
               SUM(CASE WHEN late = 0
                        THEN CAST(cents AS DECIMAL(38,0))
                             * CAST(cents AS DECIMAL(38,0))
                        ELSE 0 END) AS ss2
        FROM j
    ),
    f AS (
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               CAST(s1 AS DOUBLE) / n1 AS m1,
               CAST(s2 AS DOUBLE) / n2 AS m2,
               (CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                   / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1 AS se1,
               (CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
                - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                   / (CAST(n2 AS DOUBLE) * (n2 - 1)) / n2 AS se2
        FROM agg
    )
    SELECT n1 AS n_late, n2 AS n_ontime,
           ROUND(m1, 2) AS mean_late_cents,
           ROUND(m2, 2) AS mean_ontime_cents,
           ROUND((m1 - m2) / sqrt(se1 + se2), 4) AS t_stat,
           ROUND((se1 + se2) * (se1 + se2)
                 / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 2)
               AS df_welch
    FROM f
    """,
)
def q_late_shipment_value_welch_ttest(spark, t):
    """Welch two-sample t test: do lines shipped LATE (> 90 days
    after the order date) carry different revenue than on-time lines?
    Unequal-variance t statistic and Welch-Satterthwaite degrees of
    freedom from exact pooled moments — the parametric two-sample
    member the inferential family was missing
    (order_value_weekend_mannwhitney is its rank-based sibling;
    late_revenue_at_risk sizes the exposure this test validates).

    Scale shape: one fact-fact equi-join on the order key (the
    ship_delay_days shape), then ONE scalar aggregate pivoting both
    groups' n/sum/sum-of-squares into fixed columns (DECIMAL(38,0) —
    cents-squared sums; no per-group float averaging), and a
    fixed-order 1-row projection for t and df."""
    j = t["lineitem"].join(
        t["orders"],
        t["lineitem"]["l_orderkey"] == t["orders"]["o_orderkey"],
    ).select(
        l_rev_cents().alias("cents"),
        F.when(
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).cast("long")
            > _LATE_DAYS,
            1,
        )
        .otherwise(0)
        .alias("late"),
    )
    dec = "decimal(38,0)"
    cd = F.col("cents").cast(dec)
    agg = j.agg(
        F.sum("late").alias("n1"),
        F.sum(1 - F.col("late")).alias("n2"),
        F.sum(F.when(F.col("late") == 1, cd).otherwise(F.lit(0))).alias("s1"),
        F.sum(F.when(F.col("late") == 0, cd).otherwise(F.lit(0))).alias("s2"),
        F.sum(
            F.when(F.col("late") == 1, cd * cd).otherwise(F.lit(0))
        ).alias("ss1"),
        F.sum(
            F.when(F.col("late") == 0, cd * cd).otherwise(F.lit(0))
        ).alias("ss2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    se1 = (
        (n1d * F.col("ss1").cast("double")
         - F.col("s1").cast("double") * F.col("s1").cast("double"))
        / (n1d * (F.col("n1") - 1))
        / F.col("n1")
    )
    se2 = (
        (n2d * F.col("ss2").cast("double")
         - F.col("s2").cast("double") * F.col("s2").cast("double"))
        / (n2d * (F.col("n2") - 1))
        / F.col("n2")
    )
    f = agg.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        m1.alias("m1"),
        m2.alias("m2"),
        se1.alias("se1"),
        se2.alias("se2"),
    )
    return f.select(
        F.col("n1").alias("n_late"),
        F.col("n2").alias("n_ontime"),
        F.round(F.col("m1"), 2).alias("mean_late_cents"),
        F.round(F.col("m2"), 2).alias("mean_ontime_cents"),
        F.round(
            (F.col("m1") - F.col("m2"))
            / F.sqrt(F.col("se1") + F.col("se2")),
            4,
        ).alias("t_stat"),
        F.round(
            (F.col("se1") + F.col("se2"))
            * (F.col("se1") + F.col("se2"))
            / (
                F.col("se1") * F.col("se1") / (F.col("n1") - 1)
                + F.col("se2") * F.col("se2") / (F.col("n2") - 1)
            ),
            2,
        ).alias("df_welch"),
    )


# --------------------------------------------------------------------------
# 11. Token-position entropy (positional template detector)
# --------------------------------------------------------------------------

@query(
    "doc_token_position_entropy",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS idx,
               unnest(string_split(text, ' ')) AS tok,
               len(string_split(text, ' ')) AS nt
        FROM documents WHERE text IS NOT NULL
    ),
    pos AS (
        SELECT CASE WHEN idx <= 10 THEN 'head'
                    WHEN idx > nt - 10 THEN 'tail'
                    ELSE 'body' END AS pos_class,
               tok
        FROM toks WHERE length(tok) > 0
    ),
    cnt AS (
        SELECT pos_class, tok, COUNT(*) AS c FROM pos GROUP BY pos_class, tok
    ),
    h AS (
        SELECT pos_class,
               SUM(c) AS total,
               COUNT(*) AS distincts,
               SUM(CAST(ROUND(c * log2(c) * 1000000) AS BIGINT)) AS clogc_e6
        FROM cnt GROUP BY pos_class
    )
    SELECT pos_class,
           CAST(total AS BIGINT) AS n_tokens,
           CAST(distincts AS BIGINT) AS distinct_tokens,
           ROUND(log2(CAST(total AS DOUBLE))
                 - (CAST(clogc_e6 AS DOUBLE) / 1000000) / total, 4)
               AS entropy_bits,
           ROUND((log2(CAST(total AS DOUBLE))
                  - (CAST(clogc_e6 AS DOUBLE) / 1000000) / total)
                 / log2(CAST(distincts AS DOUBLE)), 4) AS norm_entropy
    FROM h ORDER BY pos_class
    """,
)
def q_doc_token_position_entropy(spark, t):
    """Positional template detector: vocabulary entropy of the first
    10 tokens (head), last 10 (tail), and everything between (body).
    Templated corpora — boilerplate headers, footers, navigation —
    show DEPRESSED head/tail entropy relative to body, because edge
    positions draw from a small fixed phrase set; normalized entropy
    (H / log2 V) makes the three classes comparable despite different
    vocabulary sizes. The positional form of the boilerplate question
    doc_boilerplate_sentences answers by listing offenders: this
    says WHERE in documents the template mass sits, so a cleaner
    knows whether stripping edges is worth it. Positions are 1-based
    token indices; a <= 20-token document contributes only
    head/tail (stated; both engines use the same CASE order, head
    wins overlaps).

    Scale shape: positions assigned map-side on the split array
    (index vs length — no window, no shuffle of text beyond the
    token); one (class, token) rollup with map-side combine, then a
    bounded 3-row entropy rollup where each token row contributes an
    exact ROUND(c*log2(c)*1e6) BIGINT (the integerization lever — no
    float merge-order sensitivity)."""
    toks = (
        ensure_parallelism(t["documents"])
        .filter(F.col("text").isNotNull())
        .select(
            F.posexplode(F.split(F.col("text"), " ")).alias("idx0", "tok"),
            F.size(F.split(F.col("text"), " ")).alias("nt"),
        )
        .filter(F.length("tok") > 0)
    )
    pos = toks.select(
        F.when(F.col("idx0") + 1 <= 10, "head")
        .when(F.col("idx0") + 1 > F.col("nt") - 10, "tail")
        .otherwise("body")
        .alias("pos_class"),
        "tok",
    )
    cnt = pos.groupBy("pos_class", "tok").agg(F.count(F.lit(1)).alias("c"))
    h = cnt.groupBy("pos_class").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("distincts"),
        F.sum(
            F.round(F.col("c") * F.log2("c") * 1000000).cast("long")
        ).alias("clogc_e6"),
    )
    hn = (
        F.log2(F.col("total").cast("double"))
        - (F.col("clogc_e6").cast("double") / 1000000) / F.col("total")
    )
    return h.select(
        "pos_class",
        F.col("total").cast("long").alias("n_tokens"),
        F.col("distincts").cast("long").alias("distinct_tokens"),
        F.round(hn, 4).alias("entropy_bits"),
        F.round(hn / F.log2(F.col("distincts").cast("double")), 4).alias(
            "norm_entropy"
        ),
    ).orderBy("pos_class")
