"""Round-9 corpus additions (registered in round 9, positions 44-50
of the registration order — the 7 slots left after the 3 ADVICE-r8
re-checks and the 40 remaining round-9/10-staged names): the
survivor-contracted dedup family agreement (VERDICT-r8 task 6), a
Theil-Sen robust trend, a Mann-Kendall trend test, a Kruskal-Wallis
k-sample rank test, the dedup source-mixture shift, pooled lag-1
order-value autocorrelation, and a kNN hubness histogram.

Reference anchors: the dashboard's revenue tab renders monthly trend
lines (app.py:286-340) — Theil-Sen/Mann-Kendall are the robust and
significance forms of that trend read; the priority split
(app.py:300-320) gets its k-sample distributional test; the LLM-data
entries extend the dedup/ANN audit families (SURVEY.md §2 M7) with
the production-shaped survivor contract the 100 TB run would use.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..functions.money import O_CENTS, o_cents
from ..operators.partitioning import ensure_parallelism
from ..operators.pinning import pin
from .corpus import ORACLES, QUERIES, query  # noqa: F401


# --------------------------------------------------------------------------
# 1. Survivor-contracted dedup family agreement (VERDICT-r8 task 6)
# --------------------------------------------------------------------------

@query("doc_dedup_family_agreement_survivors", oracle=None)  # composed below
def q_doc_dedup_family_agreement_survivors(spark, t):
    """The scale-safe form of doc_dedup_family_agreement: MinHash-LSH
    vs SimHash pair-set agreement measured over the EXACT-DEDUP
    SURVIVOR corpus (one keeper per distinct text, min doc_id — the
    same keeper rule as doc_exact_dedup). The audit form's cost is
    quadratic in duplicate-class sizes because every exact copy
    re-enters both detectors (777k pairs from 5k docs on the
    mass-duplicated testdata corpus); dropping exact copies FIRST is
    what a 100 TB pipeline would do, and collapses the detector
    output to the genuinely-near-dup residue. Run the audit form to
    validate detectors, this form to operate them.

    Measured caveat (sf0.1): THIS synthetic corpus duplicates by
    near-copy edits, not byte-copies (8 exact dups in 5000 docs), so
    the survivor frame is ~the full corpus and this form times within
    run-to-run noise of the audit form (single-session A/B: keeper
    aggregation adds no measurable cost; the detectors dominate).
    MEASURED under 40% injected byte-dup mass
    (docs/AB_RECORDS.md, "under byte-dup mass"): in round 10 the
    pair-ENUMERATING audit form paid 8.180s vs 4.901s for this form
    (1.67x — the quadratic-in-class-size SimHash pair term). The r11
    count-grain rewrite removed that term from BOTH forms (pair
    counts come from fingerprint multiplicities, never enumeration),
    and the re-run shows parity: audit 2.197s vs survivors 2.250s
    medians (0.98x). The survivor contract's remaining 100 TB value
    is OPERATIONAL — downstream dedup stages consume the collapsed
    survivor corpus, not agreement-counting cost.

    Scale shape: exact dedup is ONE text-hash aggregation (min
    doc_id + the group's identical text — no keeper frame, no
    semi-join back); the survivor frame is pinned once and feeds
    both banded detectors. Agreement is the r11 count-grain form of
    the audit query (guide §8): the SimHash side never materializes
    doc pairs — identical-fingerprint classes contribute
    mult-choose-2, verified cross-fingerprint pairs (simhash_fp_pairs
    over DISTINCT fingerprints) contribute mult_a*mult_b, and the
    mh-intersection count is one bit_count(fp_a ^ fp_b) <= 2 test
    over the small MinHash candidate frame. Nothing here is
    quadratic in corpus size — SimHash PAIR COUNTS are quadratic
    only in NEAR-dup class sizes, which exact dedup has already
    collapsed, and those counts are now computed by multiplication,
    not enumeration. Value-equal at sf0.001/0.01/0.1 against the
    pair-grain form and the unchanged oracle."""
    from ..llmdata.dedup import (
        _minhash_agg_hashed,
        lsh_candidate_pairs,
        minhash_band_keys,
        shingle_hash_frame,
        simhash,
        simhash_fp_pairs,
    )
    from .llm_queries import NUM_HASHES, ROWS_PER_BAND, SHINGLE_N

    docs = t["documents"]
    # keeper selection in ONE aggregation: min doc_id per distinct
    # text, and MIN(text) recovers the text itself (every row in a
    # md5 group carries the identical string) — no keeper frame, no
    # semi-join back, one exchange instead of three
    surv = pin(
        docs.groupBy(F.md5(F.col("text")).alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"), F.min("text").alias("text"))
        .select("doc_id", "text")
    )
    shb = shingle_hash_frame(surv, "text", "doc_id", SHINGLE_N)
    sigs = _minhash_agg_hashed(shb, "doc_id", NUM_HASHES)
    bands = minhash_band_keys(sigs, "doc_id", NUM_HASHES, ROWS_PER_BAND)
    mh = lsh_candidate_pairs(bands, "doc_id")
    fp = pin(simhash(surv, "text", "doc_id", bits=32))
    fpg = pin(fp.groupBy("simhash").agg(F.count(F.lit(1)).alias("mult")))
    same_cnt = fpg.agg(
        F.sum(F.col("mult") * (F.col("mult") - 1) / 2)
        .cast("long")
        .alias("n_same")
    )
    fpp = simhash_fp_pairs(fpg, bits=32, max_hamming=2)
    ma = fpg.select(F.col("simhash").alias("fa"), F.col("mult").alias("ma"))
    mb = fpg.select(F.col("simhash").alias("fb"), F.col("mult").alias("mb"))
    cross_cnt = (
        fpp.join(ma, "fa")
        .join(mb, "fb")
        .agg(
            F.coalesce(F.sum(F.col("ma") * F.col("mb")), F.lit(0))
            .cast("long")
            .alias("n_cross")
        )
    )
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    mh_counts = (
        mh.join(fa, "doc_a")
        .join(fb, "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_mh"),
            F.count_if(F.expr("bit_count(sh_a ^ sh_b)") <= 2)
            .cast("long")
            .alias("n_both"),
        )
    )
    n_surv = surv.agg(F.count(F.lit(1)).alias("n_survivors"))
    agg = mh_counts.crossJoin(F.broadcast(same_cnt)).crossJoin(
        F.broadcast(cross_cnt)
    )
    return n_surv.crossJoin(F.broadcast(agg)).select(
        "n_survivors",
        F.col("n_mh").alias("n_minhash_pairs"),
        (F.col("n_same") + F.col("n_cross")).alias("n_simhash_pairs"),
        "n_both",
        F.round(
            F.col("n_both")
            * 1.0
            / F.greatest(
                F.col("n_mh")
                + F.col("n_same")
                + F.col("n_cross")
                - F.col("n_both"),
                F.lit(1),
            ),
            4,
        ).alias("pair_jaccard"),
    )


def _survivor_oracle() -> str:
    from .llm_queries import _MINHASH_CTES

    surv_cte = """documents_s AS (
        SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
        FROM documents GROUP BY md5(text)
    )"""
    mhc = _MINHASH_CTES.replace("FROM documents", "FROM documents_s")
    shq = ORACLES["doc_simhash_near_dup"].replace(
        "FROM documents", "FROM documents_s"
    )
    return f"""
    WITH {surv_cte},
    {mhc},
    mh_pairs AS (SELECT doc_a, doc_b FROM cand),
    sh_pairs AS (SELECT doc_a, doc_b FROM ({shq}) s),
    both_pairs AS (
        SELECT doc_a, doc_b FROM mh_pairs
        INTERSECT
        SELECT doc_a, doc_b FROM sh_pairs
    )
    SELECT (SELECT COUNT(*) FROM documents_s) AS n_survivors,
           (SELECT COUNT(*) FROM mh_pairs) AS n_minhash_pairs,
           (SELECT COUNT(*) FROM sh_pairs) AS n_simhash_pairs,
           (SELECT COUNT(*) FROM both_pairs) AS n_both,
           ROUND((SELECT COUNT(*) FROM both_pairs) * 1.0
                 / GREATEST((SELECT COUNT(*) FROM mh_pairs)
                            + (SELECT COUNT(*) FROM sh_pairs)
                            - (SELECT COUNT(*) FROM both_pairs), 1), 4)
               AS pair_jaccard
    """


ORACLES["doc_dedup_family_agreement_survivors"] = _survivor_oracle()


# --------------------------------------------------------------------------
# 2. Theil-Sen robust monthly revenue trend
# --------------------------------------------------------------------------

@query(
    "monthly_revenue_theilsen_trend",
    oracle=f"""
    WITH m AS (
        SELECT CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12
                    + EXTRACT(MONTH FROM CAST(o_orderdate AS DATE))
                    AS BIGINT) AS idx,
               SUM({O_CENTS}) AS cents
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT CAST(b.cents - a.cents AS DOUBLE) / (b.idx - a.idx) AS slope
        FROM m a JOIN m b ON a.idx < b.idx
    ),
    ols AS (
        SELECT COUNT(*) AS n, SUM(idx) AS sx,
               SUM(CAST(cents AS DECIMAL(38,0))) AS sy,
               SUM(CAST(idx AS DECIMAL(38,0)) * CAST(idx AS DECIMAL(38,0)))
                   AS sxx,
               SUM(CAST(idx AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)))
                   AS sxy
        FROM m
    )
    SELECT (SELECT COUNT(*) FROM m) AS n_months,
           (SELECT COUNT(*) FROM s) AS n_pairs,
           (SELECT ROUND(percentile_cont(0.25) WITHIN GROUP (ORDER BY slope), 4)
            FROM s) AS slope_p25,
           (SELECT ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY slope), 4)
            FROM s) AS theilsen_slope,
           (SELECT ROUND(percentile_cont(0.75) WITHIN GROUP (ORDER BY slope), 4)
            FROM s) AS slope_p75,
           (SELECT ROUND(
                (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
            FROM ols) AS ols_slope
    """,
)
def q_monthly_revenue_theilsen_trend(spark, t):
    """Theil-Sen robust trend of monthly revenue: the MEDIAN of all
    pairwise month-to-month slopes (cents/month), with the pairwise
    slope IQR as its spread and the OLS slope alongside. A single
    blowout month drags OLS but barely moves Theil-Sen — the robust
    read of the dashboard's monthly trend line, and the gap between
    the two slopes is itself an outlier alarm
    (nation_revenue_forecast_linreg is the OLS-only form).

    Scale shape: ONE month-grain rollup over the fact (exact BIGINT
    cents), then all arithmetic on the CALENDAR-BOUNDED month frame
    (~84 rows at any SF — the pair join is ~3.5k rows, broadcast);
    OLS moments accumulate in DECIMAL(38,0). Quadratic only in
    months, never in data."""
    d = F.col("o_orderdate").cast("date")
    m = t["orders"].groupBy(
        (F.year(d) * 12 + F.month(d)).cast("long").alias("idx")
    ).agg(F.sum(o_cents()).alias("cents"))
    a = m.select(F.col("idx").alias("ia"), F.col("cents").alias("ca"))
    b = m.select(F.col("idx").alias("ib"), F.col("cents").alias("cb"))
    s = a.join(F.broadcast(b), F.col("ia") < F.col("ib")).select(
        (
            (F.col("cb") - F.col("ca")).cast("double")
            / (F.col("ib") - F.col("ia"))
        ).alias("slope")
    )
    dec = "decimal(38,0)"
    ols = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("idx").alias("sx"),
        F.sum(F.col("cents").cast(dec)).alias("sy"),
        F.sum(F.col("idx").cast(dec) * F.col("idx").cast(dec)).alias("sxx"),
        F.sum(F.col("idx").cast(dec) * F.col("cents").cast(dec)).alias("sxy"),
    ).select(
        (
            (
                F.col("n").cast("double") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / (
                F.col("n").cast("double") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            )
        ).alias("ols_slope_raw")
    )
    nm = m.agg(F.count(F.lit(1)).alias("n_months"))
    sl = s.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.25)"), 4).alias("slope_p25"),
        F.round(F.expr("percentile(slope, 0.5)"), 4).alias("theilsen_slope"),
        F.round(F.expr("percentile(slope, 0.75)"), 4).alias("slope_p75"),
    )
    return (
        nm.crossJoin(F.broadcast(sl))
        .crossJoin(F.broadcast(ols))
        .select(
            "n_months",
            "n_pairs",
            "slope_p25",
            "theilsen_slope",
            "slope_p75",
            F.round(F.col("ols_slope_raw"), 4).alias("ols_slope"),
        )
    )


# --------------------------------------------------------------------------
# 3. Mann-Kendall trend test on daily revenue
# --------------------------------------------------------------------------

@query(
    "daily_revenue_mann_kendall",
    oracle=f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day, SUM({O_CENTS}) AS cents
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT SUM(CASE WHEN b.cents > a.cents THEN 1
                        WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS s_stat
        FROM d a JOIN d b ON a.day < b.day
    ),
    ties AS (
        SELECT COALESCE(SUM(CAST(t AS BIGINT) * (t - 1) * (2 * t + 5)), 0)
                   AS tie_term
        FROM (SELECT COUNT(*) AS t FROM d GROUP BY cents) WHERE t > 1
    ),
    n AS (SELECT COUNT(*) AS n FROM d)
    SELECT n.n AS n_days,
           CAST(s.s_stat AS BIGINT) AS s_stat,
           ROUND((CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
                  - CAST(tie_term AS DOUBLE)) / 18.0, 4) AS var_s,
           ROUND((CAST(s.s_stat AS DOUBLE)
                  - CASE WHEN s.s_stat > 0 THEN 1
                         WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
                 / sqrt((CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
                         - CAST(tie_term AS DOUBLE)) / 18.0), 4) AS z_score,
           ROUND(CAST(s.s_stat AS DOUBLE)
                 / (0.5 * CAST(n.n AS DOUBLE) * (n.n - 1)), 6) AS kendall_tau
    FROM s, ties, n
    """,
)
def q_daily_revenue_mann_kendall(spark, t):
    """Mann-Kendall trend test on daily revenue: S = the number of
    later-day > earlier-day comparisons minus the reverse, its
    tie-corrected variance, the continuity-corrected z, and Kendall's
    tau. The nonparametric 'is revenue trending' answer — monotone
    drift detection with no linearity assumption, the significance
    companion of monthly_revenue_theilsen_trend (Theil-Sen estimates
    the slope Mann-Kendall tests).

    Scale shape: ONE day-grain rollup over the fact, then every
    comparison runs on the CALENDAR-BOUNDED day frame (~2.4k rows at
    any SF; the pair join is ~2.9M comparisons of two longs,
    broadcast — bounded by the calendar, not the data). S and the
    tie term are exact integers."""
    d = t["orders"].groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(o_cents()).alias("cents"))
    a = d.select(F.col("day").alias("da"), F.col("cents").alias("ca"))
    b = d.select(F.col("day").alias("db"), F.col("cents").alias("cb"))
    s = a.join(F.broadcast(b), F.col("da") < F.col("db")).agg(
        F.sum(
            F.when(F.col("cb") > F.col("ca"), 1)
            .when(F.col("cb") < F.col("ca"), -1)
            .otherwise(0)
        ).alias("s_stat")
    )
    ties = (
        d.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t").cast("long")
                    * (F.col("t") - 1)
                    * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    n = d.agg(F.count(F.lit(1)).alias("n"))
    nd = F.col("n").cast("double")
    var_s = (nd * (F.col("n") - 1) * (2 * F.col("n") + 5)
             - F.col("tie_term").cast("double")) / 18.0
    sd = F.col("s_stat").cast("double")
    cc = (
        F.when(F.col("s_stat") > 0, 1)
        .when(F.col("s_stat") < 0, -1)
        .otherwise(0)
    )
    return (
        s.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("n").alias("n_days"),
            F.col("s_stat").cast("long").alias("s_stat"),
            F.round(var_s, 4).alias("var_s"),
            F.round((sd - cc) / F.sqrt(var_s), 4).alias("z_score"),
            F.round(sd / (0.5 * nd * (F.col("n") - 1)), 6).alias(
                "kendall_tau"
            ),
        )
    )


# --------------------------------------------------------------------------
# 4. Kruskal-Wallis k-sample rank test of order value by priority
# --------------------------------------------------------------------------

_KW_PRIS = (
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
)


def _kw_oracle() -> str:
    conds = ", ".join(
        f"SUM(CASE WHEN pri = '{p}' THEN 1 ELSE 0 END) AS c{i}"
        for i, p in enumerate(_KW_PRIS)
    )
    two_r = ", ".join(
        f"SUM(CAST(c{i} AS DECIMAL(38,0))"
        f" * CAST(2 * before + tv + 1 AS DECIMAL(38,0))) AS r{i},"
        f" SUM(c{i}) AS n{i}"
        for i in range(len(_KW_PRIS))
    )
    # one fixed expression order for the 5-term sums (float-sum
    # nondeterminism lever): term_i = (2R_i)^2 / (4 n_i)
    h_terms = " + ".join(
        f"(CASE WHEN n{i} > 0 THEN CAST(r{i} AS DOUBLE)"
        f" * CAST(r{i} AS DOUBLE) / (4.0 * n{i}) ELSE 0 END)"
        for i in range(len(_KW_PRIS))
    )
    k_obs = " + ".join(
        f"(CASE WHEN n{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(_KW_PRIS))
    )
    n_tot = " + ".join(f"n{i}" for i in range(len(_KW_PRIS)))
    return f"""
    WITH base AS (
        SELECT o_orderpriority AS pri, {O_CENTS} AS cents FROM orders
    ),
    v AS (
        SELECT cents, {conds}, COUNT(*) AS tv
        FROM base GROUP BY cents
    ),
    c AS (
        SELECT *, SUM(tv) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
                  - tv AS before
        FROM v
    ),
    agg AS (
        SELECT {two_r},
               SUM(CAST(tv AS DECIMAL(38,0)) * CAST(tv AS DECIMAL(38,0))
                   * CAST(tv AS DECIMAL(38,0))
                   - CAST(tv AS DECIMAL(38,0))) AS tie_term
        FROM c
    ),
    f AS (
        SELECT ({n_tot}) AS n, ({k_obs}) AS k, ({h_terms}) AS rsum,
               CAST(tie_term AS DOUBLE) AS tt
        FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           CAST(k AS BIGINT) AS k_groups,
           ROUND((12.0 / (CAST(n AS DOUBLE) * (n + 1)) * rsum - 3.0 * (n + 1))
                 / (1.0 - tt / (CAST(n AS DOUBLE) * n * n - n)), 4) AS h_stat,
           ROUND(1.0 - tt / (CAST(n AS DOUBLE) * n * n - n), 6)
               AS tie_correction,
           ROUND(((12.0 / (CAST(n AS DOUBLE) * (n + 1)) * rsum
                   - 3.0 * (n + 1))
                  / (1.0 - tt / (CAST(n AS DOUBLE) * n * n - n)) - k + 1)
                 / (n - k), 6) AS epsilon_sq
    FROM f
    """


@query("order_value_priority_kruskal_wallis", oracle=_kw_oracle())
def q_order_value_priority_kruskal_wallis(spark, t):
    """Kruskal-Wallis H test: do the five order priorities draw their
    order values from the same distribution? The k-sample extension of
    order_value_weekend_mannwhitney (rank-based, no normality
    assumption — the nonparametric cross-check of
    order_value_priority_weekend_anova2's parametric F). Reports the
    tie-corrected H, the tie correction itself, and the epsilon-
    squared effect size; dfs come from the OBSERVED group count.

    Scale shape: rank sums are computed WITHOUT a global sort of the
    fact — one value-grain rollup carrying per-priority conditional
    counts, then ``running_sum_ranged`` (range-repartitioned prefix
    sum, never a single-task window) supplies each distinct value's
    rank offset; 2x rank-sums stay exact in DECIMAL(38,0) (half-rank
    ties doubled away, the mannwhitney lever) and the five R_j^2/n_j
    terms are added in ONE fixed expression order on both engines
    (float-sum determinism lever)."""
    from ..operators.cumulative import running_sum_ranged

    base = t["orders"].select(
        F.col("o_orderpriority").alias("pri"), o_cents().alias("cents")
    )
    v = base.groupBy("cents").agg(
        *[
            F.sum(F.when(F.col("pri") == p, 1).otherwise(0)).alias(f"c{i}")
            for i, p in enumerate(_KW_PRIS)
        ],
        F.count(F.lit(1)).alias("tv"),
    )
    c = running_sum_ranged(v, [F.asc("cents")], "tv", "cum_incl").select(
        "*", (F.col("cum_incl") - F.col("tv")).alias("before")
    )
    dec = "decimal(38,0)"
    rank_base = (2 * F.col("before") + F.col("tv") + 1).cast(dec)
    tvd = F.col("tv").cast(dec)
    agg = c.agg(
        *[
            F.sum(F.col(f"c{i}").cast(dec) * rank_base).alias(f"r{i}")
            for i in range(len(_KW_PRIS))
        ],
        *[F.sum(f"c{i}").alias(f"n{i}") for i in range(len(_KW_PRIS))],
        F.sum(tvd * tvd * tvd - tvd).alias("tie_term"),
    )
    h_terms = None
    k_obs = None
    n_tot = None
    for i in range(len(_KW_PRIS)):
        term = F.when(
            F.col(f"n{i}") > 0,
            F.col(f"r{i}").cast("double")
            * F.col(f"r{i}").cast("double")
            / (4.0 * F.col(f"n{i}")),
        ).otherwise(F.lit(0.0))
        kk = F.when(F.col(f"n{i}") > 0, 1).otherwise(0)
        h_terms = term if h_terms is None else h_terms + term
        k_obs = kk if k_obs is None else k_obs + kk
        n_tot = F.col(f"n{i}") if n_tot is None else n_tot + F.col(f"n{i}")
    f = agg.select(
        n_tot.alias("n"),
        k_obs.alias("k"),
        h_terms.alias("rsum"),
        F.col("tie_term").cast("double").alias("tt"),
    )
    nd = F.col("n").cast("double")
    h_raw = 12.0 / (nd * (F.col("n") + 1)) * F.col("rsum") - 3.0 * (
        F.col("n") + 1
    )
    corr = 1.0 - F.col("tt") / (nd * F.col("n") * F.col("n") - F.col("n"))
    return f.select(
        F.col("n").cast("long").alias("n_orders"),
        F.col("k").cast("long").alias("k_groups"),
        F.round(h_raw / corr, 4).alias("h_stat"),
        F.round(corr, 6).alias("tie_correction"),
        F.round(
            (h_raw / corr - F.col("k") + 1) / (F.col("n") - F.col("k")), 6
        ).alias("epsilon_sq"),
    )


# --------------------------------------------------------------------------
# 5. Dedup source-mixture shift
# --------------------------------------------------------------------------

@query(
    "doc_dedup_source_mixture_shift",
    oracle="""
    WITH before_t AS (
        SELECT source, COUNT(*) AS n_before FROM documents GROUP BY source
    ),
    surv AS (
        SELECT min_by(source, doc_id) AS source
        FROM documents GROUP BY md5(text)
    ),
    after_t AS (SELECT source, COUNT(*) AS n_after FROM surv GROUP BY source),
    tot AS (
        SELECT (SELECT SUM(n_before) FROM before_t) AS tb,
               (SELECT SUM(n_after) FROM after_t) AS ta
    )
    SELECT b.source,
           CAST(b.n_before AS BIGINT) AS n_before,
           CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after,
           ROUND(b.n_before * 10000.0 / tot.tb, 4) AS share_before_bp,
           ROUND(COALESCE(a.n_after, 0) * 10000.0 / tot.ta, 4)
               AS share_after_bp,
           ROUND(COALESCE(a.n_after, 0) * 10000.0 / tot.ta
                 - b.n_before * 10000.0 / tot.tb, 4) AS delta_bp,
           CASE WHEN COALESCE(a.n_after, 0) > 0 THEN
               ROUND((COALESCE(a.n_after, 0) * 1.0 / tot.ta
                      - b.n_before * 1.0 / tot.tb)
                     * ln((COALESCE(a.n_after, 0) * 1.0 / tot.ta)
                          / (b.n_before * 1.0 / tot.tb)), 6)
           END AS psi_term
    FROM before_t b LEFT JOIN after_t a ON a.source = b.source, tot
    ORDER BY b.source
    """,
)
def q_doc_dedup_source_mixture_shift(spark, t):
    """How exact dedup RESHAPES the training mixture: per-source corpus
    share before vs after keeper selection (min doc_id per distinct
    text), the basis-point delta, and each source's PSI contribution.
    doc_dedup_rate_by_source reports how much each source shrinks;
    this reports what that does to the MIXTURE — the number a data
    curator must re-balance after (doc_source_mixing's rates were set
    against the pre-dedup mixture).

    Scale shape: survivor attribution is ONE text-hash aggregation
    (min_by(source, doc_id) — the keeper row's source, same function
    name in both engines; no keeper frame, no join back), then two
    bounded source-grain rollups (20 sources) and broadcast totals;
    all shares are ratios of exact BIGINTs."""
    docs = t["documents"]
    before = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_before"))
    after = (
        docs.groupBy(F.md5(F.col("text")).alias("__h"))
        .agg(F.min_by("source", "doc_id").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    tb = before.agg(F.sum("n_before").alias("tb"))
    ta = after.agg(F.sum("n_after").alias("ta"))
    j = (
        before.join(after, "source", "left")
        .withColumn("n_after", F.coalesce(F.col("n_after"), F.lit(0)))
        .crossJoin(F.broadcast(tb))
        .crossJoin(F.broadcast(ta))
    )
    pb = F.col("n_before") * 1.0 / F.col("tb")
    pa = F.col("n_after") * 1.0 / F.col("ta")
    return j.select(
        "source",
        F.col("n_before").cast("long").alias("n_before"),
        F.col("n_after").cast("long").alias("n_after"),
        F.round(F.col("n_before") * 10000.0 / F.col("tb"), 4).alias(
            "share_before_bp"
        ),
        F.round(F.col("n_after") * 10000.0 / F.col("ta"), 4).alias(
            "share_after_bp"
        ),
        F.round(
            F.col("n_after") * 10000.0 / F.col("ta")
            - F.col("n_before") * 10000.0 / F.col("tb"),
            4,
        ).alias("delta_bp"),
        F.when(
            F.col("n_after") > 0, F.round((pa - pb) * F.log(pa / pb), 6)
        ).alias("psi_term"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# 6. Pooled lag-1 autocorrelation of customer order values
# --------------------------------------------------------------------------

@query(
    "customer_order_value_lag1_autocorr",
    oracle=f"""
    WITH seq AS (
        SELECT o_custkey, {O_CENTS} AS cents,
               LAG({O_CENTS}) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders
    ),
    p AS (SELECT o_custkey, prev AS x, cents AS y FROM seq
          WHERE prev IS NOT NULL),
    agg AS (
        SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
               SUM(CAST(x AS DECIMAL(38,0))) AS sx,
               SUM(CAST(y AS DECIMAL(38,0))) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
        FROM p
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(n_cust AS BIGINT) AS n_customers_multi,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
               AS lag1_pearson_r
    FROM agg
    """,
)
def q_customer_order_value_lag1_autocorr(spark, t):
    """Do big orders follow big orders? Pooled Pearson correlation
    between each order's value and the SAME customer's previous order
    value (lag-1 within customer, pooled across customers). Positive r
    = spend momentum (the per-customer sequencing signal behind
    customer_value_migration's band transitions);
    daily_revenue_autocorr asks this of the aggregate series — this
    asks it of individual behavior.

    Scale shape: one o_custkey-partitioned LAG window (same
    partitioning as every per-customer rollup), then a single scalar
    aggregate with all five moments in DECIMAL(38,0) (cents-squared
    sums pass 2^63 near sf 3 — the ADVICE-r7 lever applied at
    birth); doubles only in the final 1-row r projection."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = t["orders"].select(
        "o_custkey",
        o_cents().alias("cents"),
        F.lag(o_cents()).over(w).alias("prev"),
    )
    p = seq.filter(F.col("prev").isNotNull()).select(
        "o_custkey", F.col("prev").alias("x"), F.col("cents").alias("y")
    )
    dec = "decimal(38,0)"
    xd = F.col("x").cast(dec)
    yd = F.col("y").cast(dec)
    agg = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_custkey").alias("n_cust"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
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
    return agg.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.col("n_cust").cast("long").alias("n_customers_multi"),
        F.round(num / den, 6).alias("lag1_pearson_r"),
    )


# --------------------------------------------------------------------------
# 7. kNN hubness histogram (sample-scale audit)
# --------------------------------------------------------------------------

_HUB_CAP = 12

from .round9c_queries import _KNN_SAMPLE_MOD  # noqa: E402


@query(
    "emb_knn_hubness_histogram",
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
    occ AS (
        SELECT s.vec_id,
               COALESCE(e.c, 0) AS k_occurrence
        FROM s LEFT JOIN (SELECT neighbor_id, COUNT(*) AS c FROM edges
                          GROUP BY neighbor_id) e ON e.neighbor_id = s.vec_id
    )
    SELECT CAST(LEAST(k_occurrence, {_HUB_CAP}) AS BIGINT) AS occurrences,
           COUNT(*) AS n_points
    FROM occ GROUP BY LEAST(k_occurrence, {_HUB_CAP})
    ORDER BY occurrences
    """,
)
def q_emb_knn_hubness_histogram(spark, t):
    """k-occurrence (hubness) histogram of the k=5 cosine kNN graph on
    the deterministic quarter sample: how many points appear in 0, 1,
    2, ... other points' neighbor lists (capped at 12+). A heavy
    right tail = hub points that flood candidate lists; a fat zero
    bucket = antihubs ANN probes can never return.
    emb_knn_reciprocity scores this pathology with one number; this
    shows its shape — the diagnosis you act on (prune hubs, raise
    nprobe).

    Scale shape: sample-scale AUDIT contract sharing
    emb_knn_reciprocity's quarter-sample kNN graph (quadratic in the
    sample by definition — the shared ``_KNN_SAMPLE_MOD`` constant is
    the documented 100 TB knob); the histogram itself is a
    neighbor-grain count + bounded 13-row rollup, with the zero
    bucket supplied by a left join from the sample frame, not a
    scan."""
    from ..llmdata.similarity import brute_force_topk

    sample = t["embeddings"].filter(F.col("vec_id") % _KNN_SAMPLE_MOD == 0)
    edges = brute_force_topk(sample, sample, k=5).select(
        "query_id", "neighbor_id"
    )
    cnt = edges.groupBy("neighbor_id").agg(F.count(F.lit(1)).alias("c"))
    occ = (
        sample.select("vec_id")
        .join(cnt, sample["vec_id"] == cnt["neighbor_id"], "left")
        .select(
            F.coalesce(F.col("c"), F.lit(0)).alias("k_occurrence")
        )
    )
    return (
        occ.groupBy(
            F.least(F.col("k_occurrence"), F.lit(_HUB_CAP))
            .cast("long")
            .alias("occurrences")
        )
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("occurrences")
    )
