"""Round-11 NEW corpus additions: eight capability classes the corpus
did not cover — unseen-species vocabulary estimation (Chao1 +
Good-Turing), chance-corrected dedup-detector agreement (Cohen's
kappa), a Jarque-Bera normality test, character-level blocked
edit-distance near-dup pairs, CUPED variance reduction, ordinal
permutation entropy, Lin's concordance correlation, and Moran's I
network autocorrelation.

Reference anchors: the dashboard's monthly trend pane
(app.py:281-284) gets its residual-normality check (Jarque-Bera) and
its ordinal-complexity read (permutation entropy); the Silver-layer
reconciliation step (ecom_Silver_Layer.ipynb:191-289, and the exact
check in order_total_reconciliation) gets a CONTINUOUS agreement
grade (Lin's CCC); the customer tab's repurchase KPIs
(app.py:341-420) get the CUPED covariate-adjustment contract every
A/B readout on that tab would use; the nation/region views
(app.py:165-170) get trade-graph autocorrelation (Moran's I). The
LLM-pipeline additions extend the dedup and text families:
Chao1/Good-Turing sizes the UNSEEN vocabulary that hapax/Heaps
queries only hint at, Cohen's kappa grades SimHash-vs-MinHash doc
flags corrected for chance (pair_jaccard ignores the true-negative
mass), and blocked Levenshtein pairs catch character-level
near-dups that token/shingle dedup misses.

Every query follows the exact-determinism levers: cents as BIGINT,
DECIMAL(38,0) for squared/pair pools, per-row ROUND(x*1e6/1e9)
BIGINT integerization of any mean/sd-standardized value BEFORE
float-accumulating sums, pooled-integer ratios for every output
double, and max_by/min_by with integer composite keys for argmax
ties.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..functions.money import L_REV_CENTS, O_CENTS, o_cents
from ..llmdata.text import tokens_col
from ..operators.partitioning import ensure_parallelism
from ..operators.pinning import pin
from .corpus import ORACLES, QUERIES, query  # noqa: F401


# --------------------------------------------------------------------------
# 1. Chao1 + Good-Turing unseen-vocabulary estimation by source
# --------------------------------------------------------------------------

@query(
    "doc_vocab_chao1_richness",
    oracle=r"""
    WITH tok AS (
        SELECT source,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents
    ),
    tf AS (
        SELECT source, token, COUNT(*) AS cnt
        FROM tok GROUP BY source, token
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           COUNT(*) AS vocab_size,
           COUNT(*) FILTER (WHERE cnt = 1) AS f1,
           COUNT(*) FILTER (WHERE cnt = 2) AS f2,
           ROUND(COUNT(*)
                 + COUNT(*) FILTER (WHERE cnt = 1)
                   * (COUNT(*) FILTER (WHERE cnt = 1) - 1) * 1.0
                   / (2 * (COUNT(*) FILTER (WHERE cnt = 2) + 1)), 2)
               AS chao1_vocab_est,
           CAST(COUNT(*) FILTER (WHERE cnt = 1) * 1000000
                // SUM(cnt) AS BIGINT) AS gt_unseen_ppm
    FROM tf GROUP BY source ORDER BY source
    """,
)
def q_doc_vocab_chao1_richness(spark, t):
    """Unseen-species vocabulary estimation per source: the
    bias-corrected Chao1 lower bound on TOTAL vocabulary size
    (V + F1*(F1-1)/(2*(F2+1)) from singleton/doubleton counts) and
    the Good-Turing estimate of the probability mass on never-seen
    tokens (F1/N). doc_hapax_rate and doc_vocab_growth_by_source
    describe the vocabulary you HAVE; this estimates the vocabulary
    you HAVEN'T sampled yet — the number a tokenizer budget or a
    corpus-expansion decision actually needs (reference corpus
    profiling surface: ecom_Silver_Layer.ipynb:191-289 text hygiene).

    Determinism: every output derives from exact integer counts
    (Chao1 is one float division of exact integers per source row;
    the Good-Turing mass is exact integer ppm via BIGINT division).

    Scale shape: explode -> (source, token) hash aggregate with
    map-side partials (the token text shuffles once), then a
    source-grain rollup — identical to the proven doc_hapax_rate
    plan; no new shuffle class."""
    tok = ensure_parallelism(t["documents"]).select(
        "source", F.explode(tokens_col("text")).alias("token")
    )
    tf = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cnt"))
    f1 = F.count_if(F.col("cnt") == 1)
    f2 = F.count_if(F.col("cnt") == 2)
    return (
        tf.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab_size"),
            f1.alias("f1"),
            f2.alias("f2"),
            F.round(
                F.count(F.lit(1))
                + f1 * (f1 - 1) * 1.0 / (2 * (f2 + 1)),
                2,
            ).alias("chao1_vocab_est"),
            F.expr(
                "CAST(count_if(cnt = 1) * 1000000 DIV SUM(cnt) AS BIGINT)"
            ).alias("gt_unseen_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# 2. Cohen's kappa between the SimHash and MinHash doc-level flags
# --------------------------------------------------------------------------

@query("doc_dedup_detector_kappa", oracle=None)  # composed below
def q_doc_dedup_detector_kappa(spark, t):
    """Chance-corrected agreement between the two near-dup detector
    families at DOC grain: a document is "flagged" by a family when
    it appears in at least one of that family's candidate pairs
    (MinHash-LSH banded; SimHash Hamming<=2), and Cohen's kappa
    grades flag agreement corrected for chance over the WHOLE corpus
    — including the true-negative mass that
    doc_dedup_family_agreement's pair_jaccard ignores (on a mostly
    clean corpus two detectors that both flag almost nothing agree
    ~100% raw; kappa is the honest number governance wants before
    dropping one dedup pass).

    Determinism: both pair frames are deterministic (hash-seeded
    signatures); the 2x2 table is exact integer counts, and kappa is
    one float ratio of exact integer polynomials:
    kappa = (n*(n11+n00) - pe_num) / (n*n - pe_num) with
    pe_num = (n11+n10)*(n11+n01) + (n01+n00)*(n10+n00).

    Scale shape (r11 flag-grain rewrite, guide §8): kappa needs only
    the doc-level FLAG SETS, never candidate pairs, so neither
    detector materializes a pair frame. MinHash flags: a doc appears
    in >= 1 generated pair exactly when it is among the capped
    (max_bucket smallest) ids of some band bucket holding >= 2 docs —
    the capped-bucket EXPLODE (linear in band rows) replaces the
    quadratic within-bucket pair unfold + pair-distinct. SimHash
    flags: a doc is flagged iff its FINGERPRINT VALUE is flagged —
    multiplicity >= 2 (a hamming-0 partner exists) or a verified
    cross-fingerprint partner within the radius (simhash_fp_pairs
    over DISTINCT fingerprints) — one semi-join of the one-long-
    per-doc fingerprint frame against the tiny flagged-fp set. Both
    flag sets are provably identical to the pair-endpoint unions of
    the former form (each capped bucket member of a >= 2 bucket pairs
    with another member; hamming <= 2 implies a shared pigeonhole
    band); value-equal at sf0.001/0.01/0.1. The 2x2 table is ONE
    scalar aggregate; DECIMAL(38,0) casts keep the kappa polynomials
    exact past 2^63 doc counts."""
    from ..llmdata.dedup import (
        _minhash_agg_hashed,
        minhash_band_keys,
        shingle_hash_frame,
        simhash,
        simhash_fp_pairs,
    )
    from .llm_queries import NUM_HASHES, ROWS_PER_BAND, SHINGLE_N

    docs = ensure_parallelism(t["documents"])
    shb = shingle_hash_frame(docs, "text", "doc_id", SHINGLE_N)
    sigs = _minhash_agg_hashed(shb, "doc_id", NUM_HASHES)
    bands = minhash_band_keys(sigs, "doc_id", NUM_HASHES, ROWS_PER_BAND)
    # flagged = member of the capped id set of any >= 2-doc band
    # bucket (mirrors lsh_candidate_pairs' max_bucket=1000 slice:
    # every in-cap member of such a bucket appears in >= 1 pair)
    bucket_ids = F.slice(
        F.array_distinct(F.sort_array(F.collect_list("doc_id"))), 1, 1000
    )
    mh_docs = (
        bands.groupBy("band", "band_key")
        .agg(bucket_ids.alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("doc_id"))
        .distinct()
        .withColumn("mh", F.lit(1))
    )
    fp = pin(simhash(docs, "text", "doc_id", bits=32))
    fpg = pin(fp.groupBy("simhash").agg(F.count(F.lit(1)).alias("mult")))
    fpp = simhash_fp_pairs(fpg, bits=32, max_hamming=2)
    flagged_fp = (
        fpg.filter(F.col("mult") >= 2)
        .select("simhash")
        .union(fpp.select(F.col("fa").alias("simhash")))
        .union(fpp.select(F.col("fb").alias("simhash")))
        .distinct()
    )
    sh_docs = (
        fp.join(flagged_fp, "simhash", "left_semi")
        .select("doc_id")
        .withColumn("sh", F.lit(1))
    )
    u = (
        docs.select("doc_id")
        .join(mh_docs, "doc_id", "left")
        .join(sh_docs, "doc_id", "left")
        .select(
            F.coalesce(F.col("mh"), F.lit(0)).alias("mh"),
            F.coalesce(F.col("sh"), F.lit(0)).alias("sh"),
        )
    )
    dec = "decimal(38,0)"
    c = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("mh") * F.col("sh")).alias("n11"),
        F.sum(F.col("mh") * (1 - F.col("sh"))).alias("n10"),
        F.sum((1 - F.col("mh")) * F.col("sh")).alias("n01"),
        F.sum((1 - F.col("mh")) * (1 - F.col("sh"))).alias("n00"),
    )
    pe_num = (
        (F.col("n11") + F.col("n10")).cast(dec)
        * (F.col("n11") + F.col("n01")).cast(dec)
        + (F.col("n01") + F.col("n00")).cast(dec)
        * (F.col("n10") + F.col("n00")).cast(dec)
    )
    po_num = F.col("n").cast(dec) * (F.col("n11") + F.col("n00")).cast(dec)
    nn = F.col("n").cast(dec) * F.col("n").cast(dec)
    return c.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("n11").cast("long").alias("n_both_flag"),
        F.col("n10").cast("long").alias("n_minhash_only"),
        F.col("n01").cast("long").alias("n_simhash_only"),
        F.col("n00").cast("long").alias("n_neither"),
        F.round((F.col("n11") + F.col("n00")) * 1.0 / F.col("n"), 6).alias(
            "observed_agreement"
        ),
        F.round(pe_num.cast("double") / nn.cast("double"), 6).alias(
            "chance_agreement"
        ),
        F.round(
            (po_num - pe_num).cast("double")
            / F.nullif((nn - pe_num).cast("double"), F.lit(0.0)),
            6,
        ).alias("cohen_kappa"),
    )


# --------------------------------------------------------------------------
# 3. Jarque-Bera normality test on daily revenue
# --------------------------------------------------------------------------

@query(
    "daily_revenue_jarque_bera",
    oracle=f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day, SUM({O_CENTS}) AS cents
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(cents AS DECIMAL(38,0))) AS s,
               SUM(CAST(cents AS DECIMAL(38,0))
                   * CAST(cents AS DECIMAL(38,0))) AS ss
        FROM d
    ),
    z AS (
        SELECT tot.n,
               CAST(ROUND((cents - CAST(tot.s AS DOUBLE) / tot.n)
                          / SQRT((CAST(tot.ss AS DOUBLE)
                                  - CAST(tot.s AS DOUBLE)
                                    * CAST(tot.s AS DOUBLE) / tot.n)
                                 / tot.n)
                          * 1000000) AS BIGINT) AS z_e6
        FROM d, tot
    ),
    zp AS (
        SELECT n, z_e6,
               CAST(CAST(z_e6 AS DECIMAL(19,0)) * z_e6 AS DECIMAL(19,0))
                   AS z2
        FROM z
    ),
    m AS (
        SELECT MAX(n) AS n,
               SUM(CAST(z2 AS DECIMAL(38,0))) AS sz2,
               SUM(CAST(z2 * CAST(z_e6 AS DECIMAL(12,0))
                        AS DECIMAL(31,0))) AS sz3,
               SUM(z2 * z2) AS sz4
        FROM zp
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND((CAST(sz3 AS DOUBLE) / n / 1e18)
                 / POWER(CAST(sz2 AS DOUBLE) / n / 1e12, 1.5), 6)
               AS skewness,
           ROUND((CAST(sz4 AS DOUBLE) / n / 1e24)
                 / POWER(CAST(sz2 AS DOUBLE) / n / 1e12, 2) - 3, 6)
               AS excess_kurtosis,
           ROUND(n / 6.0
                 * (POWER((CAST(sz3 AS DOUBLE) / n / 1e18)
                          / POWER(CAST(sz2 AS DOUBLE) / n / 1e12, 1.5), 2)
                    + POWER((CAST(sz4 AS DOUBLE) / n / 1e24)
                            / POWER(CAST(sz2 AS DOUBLE) / n / 1e12, 2)
                            - 3, 2) / 4), 4) AS jb_stat
    FROM m
    """,
)
def q_daily_revenue_jarque_bera(spark, t):
    """Jarque-Bera normality test of the daily-revenue distribution:
    sample skewness and excess kurtosis from standardized moments,
    and JB = n/6 * (S^2 + K^2/4) ~ chi2(2) under normality. The
    trend pane (app.py:281-284) implies mean+-sd error bands; JB
    says whether those bands mean what a normal model claims
    (heavy-tailed daily revenue needs the quantile queries instead).

    Determinism: the standardized value z is e6-integerized PER DAY
    (mean and sd are each ONE IEEE division/sqrt of exact DECIMAL
    pools — bitwise identical on both engines), and the third/fourth
    moments accumulate z_e6 powers in DECIMAL(38,0) — no
    float-accumulating sum anywhere. z is scale-free, so the pools
    are bounded by the day-grain row count at ANY data scale
    (|z_e6| <~ 5e7 -> z^4 pool < 6.2e30 * days).

    Scale shape: ONE day-grain rollup over the fact, one broadcast
    of the 1-row moment frame back over the bounded day frame
    (~2.4k rows), one scalar aggregate."""
    dec = "decimal(38,0)"
    # pinned: the bounded day frame feeds BOTH the moment rollup and
    # the z projection — ONE fact scan
    d = pin(
        t["orders"].groupBy(
            F.col("o_orderdate").cast("date").alias("day")
        ).agg(F.sum(o_cents()).alias("cents"))
    )
    tot = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast(dec)).alias("s"),
        F.sum(F.col("cents").cast(dec) * F.col("cents").cast(dec)).alias(
            "ss"
        ),
    )
    sd_expr = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
        )
        / F.col("n")
    )
    z = d.crossJoin(F.broadcast(tot)).select(
        "n",
        F.round(
            (F.col("cents") - F.col("s").cast("double") / F.col("n"))
            / sd_expr
            * 1e6
        )
        .cast("long")
        .alias("z_e6"),
    )
    zp = z.select(
        "n",
        "z_e6",
        (F.col("z_e6").cast("decimal(19,0)") * F.col("z_e6"))
        .cast("decimal(19,0)")
        .alias("z2"),
    )
    m = zp.agg(
        F.max("n").alias("n"),
        F.sum(F.col("z2").cast(dec)).alias("sz2"),
        F.sum(
            (F.col("z2") * F.col("z_e6").cast("decimal(12,0)")).cast(
                "decimal(31,0)"
            )
        ).alias("sz3"),
        F.sum(F.col("z2") * F.col("z2")).alias("sz4"),
    )
    m2 = F.col("sz2").cast("double") / F.col("n") / 1e12
    skew = (F.col("sz3").cast("double") / F.col("n") / 1e18) / F.pow(m2, 1.5)
    kurt = (F.col("sz4").cast("double") / F.col("n") / 1e24) / F.pow(m2, 2) - 3
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(
            F.col("n") / 6.0 * (F.pow(skew, 2) + F.pow(kurt, 2) / 4), 4
        ).alias("jb_stat"),
    )


# --------------------------------------------------------------------------
# 4. Blocked Levenshtein near-dup pairs over part names
# --------------------------------------------------------------------------

_ED_NEAR = 12


@query(
    "part_name_blocked_edit_pairs",
    oracle=f"""
    WITH p AS (
        SELECT p_partkey, p_brand, p_size, p_name FROM part
    ),
    pairs AS (
        SELECT a.p_brand,
               levenshtein(a.p_name, b.p_name) AS dist
        FROM p a JOIN p b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
    )
    SELECT p_brand,
           COUNT(*) AS n_pairs,
           COUNT(*) FILTER (WHERE dist <= {_ED_NEAR}) AS n_near,
           CAST(MIN(dist) AS BIGINT) AS min_dist,
           ROUND(CAST(SUM(dist) AS DOUBLE) / COUNT(*), 2) AS avg_dist
    FROM pairs GROUP BY p_brand ORDER BY p_brand
    """,
)
def q_part_name_blocked_edit_pairs(spark, t):
    """Character-level near-duplicate detection with blocking: part
    names are compared by Levenshtein edit distance ONLY within
    (brand, size) blocks — the classic entity-resolution blocking
    pattern. Token/shingle dedup (MinHash/SimHash) misses
    single-character catalog typos ("navy blue lemon" vs "navy blu
    lemon"); edit distance catches them, and blocking keeps the pair
    count linear-ish instead of quadratic. Per brand: pairs checked,
    pairs within distance {_ED_NEAR}, and the distance profile
    (reference product-catalog cleanse surface:
    ecom_Silver_Layer.ipynb:191-289).

    Determinism: levenshtein is an exact integer in BOTH engines
    (same unit-cost edit-distance definition); every output is an
    exact count or one float division of exact integers.

    Scale shape: ONE self-equi-join keyed on the (brand, size)
    block — the per-block fanout is bounded by block size (parts per
    brand x size), never all-pairs across the catalog; the rollup is
    a brand-grain hash aggregate with map-side partials. At 100 TB
    you narrow blocks (brand x size x container), not the plan."""
    p = ensure_parallelism(t["part"]).select(
        "p_partkey", "p_brand", "p_size", "p_name"
    )
    a = p.select(
        F.col("p_brand"), F.col("p_size"),
        F.col("p_partkey").alias("a_key"), F.col("p_name").alias("a_name"),
    )
    b = p.select(
        F.col("p_brand"), F.col("p_size"),
        F.col("p_partkey").alias("b_key"), F.col("p_name").alias("b_name"),
    )
    pairs = (
        a.join(b, ["p_brand", "p_size"])
        .filter(F.col("a_key") < F.col("b_key"))
        .select(
            "p_brand", F.levenshtein("a_name", "b_name").alias("dist")
        )
    )
    return (
        pairs.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_if(F.col("dist") <= _ED_NEAR).alias("n_near"),
            F.min("dist").cast("long").alias("min_dist"),
            F.round(F.sum("dist") * 1.0 / F.count(F.lit(1)), 2).alias(
                "avg_dist"
            ),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# 5. CUPED variance reduction over customer spend
# --------------------------------------------------------------------------

_CUPED_SPLIT = "1996-01-01"


@query(
    "customer_spend_cuped",
    oracle=f"""
    WITH per_cust AS (
        SELECT c.c_custkey,
               COALESCE(SUM(CASE WHEN o.o_orderdate < DATE '{_CUPED_SPLIT}'
                                 THEN {O_CENTS} END), 0) AS x,
               COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '{_CUPED_SPLIT}'
                                 THEN {O_CENTS} END), 0) AS y
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    ),
    m AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(x AS DECIMAL(38,0))) AS sx,
               SUM(CAST(y AS DECIMAL(38,0))) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                   AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS syy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS sxy
        FROM per_cust
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS theta,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS corr_xy,
           ROUND(100.0 * (CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE))
                       * (CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * syy - sy * sy AS DOUBLE)), 4)
               AS var_reduction_pct
    FROM m
    """,
)
def q_customer_spend_cuped(spark, t):
    """CUPED (Controlled-experiment Using Pre-Experiment Data)
    variance-reduction contract: with pre-period customer spend as
    the covariate X and post-period spend as the metric Y
    (split at {_CUPED_SPLIT}), theta = cov(X,Y)/var(X) is the
    adjustment coefficient and corr(X,Y)^2 is the variance an
    adjusted A/B readout removes. ab_test_conversion_lift reports a
    lift; this reports how much NARROWER its confidence interval
    gets if the experiment adjusts on pre-period behavior — the
    standard pre-analysis every experimentation platform runs
    (reference customer tab: app.py:341-420).

    Determinism: the universe is the customer dimension (missing
    periods coalesce to exact 0 cents); all five moment pools are
    exact DECIMAL(38,0); theta/corr/reduction are each IEEE
    ratios of exact integers — no float accumulation.

    Scale shape: ONE left join of orders onto the customer spine at
    customer grain (the join key is the aggregation key — a single
    shuffle), then one scalar moment aggregate with map-side
    partials."""
    dec = "decimal(38,0)"
    split = F.lit(_CUPED_SPLIT).cast("date")
    per_cust = (
        ensure_parallelism(t["customer"])
        .select("c_custkey")
        .join(
            t["orders"].select(
                F.col("o_custkey").alias("c_custkey"),
                F.when(F.col("o_orderdate") < split, o_cents()).alias(
                    "pre"
                ),
                F.when(F.col("o_orderdate") >= split, o_cents()).alias(
                    "post"
                ),
            ),
            "c_custkey",
            "left",
        )
        .groupBy("c_custkey")
        .agg(
            F.coalesce(F.sum("pre"), F.lit(0)).alias("x"),
            F.coalesce(F.sum("post"), F.lit(0)).alias("y"),
        )
    )
    xd, yd = F.col("x").cast(dec), F.col("y").cast(dec)
    m = per_cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    sxy = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    sxx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    syy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return m.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(sxy / sxx, 6).alias("theta"),
        F.round(sxy / F.sqrt(sxx * syy), 6).alias("corr_xy"),
        F.round(100.0 * (sxy / sxx) * (sxy / syy), 4).alias(
            "var_reduction_pct"
        ),
    )


# --------------------------------------------------------------------------
# 6. Ordinal permutation entropy of the daily-revenue series
# --------------------------------------------------------------------------

@query(
    "daily_revenue_permutation_entropy",
    oracle=f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day, SUM({O_CENTS}) AS cents
        FROM orders GROUP BY 1
    ),
    led AS (
        SELECT cents AS a,
               LEAD(cents, 1) OVER (ORDER BY day) AS b,
               LEAD(cents, 2) OVER (ORDER BY day) AS c
        FROM d
    ),
    pat AS (
        SELECT ((CASE WHEN b < a THEN 1 ELSE 0 END)
                + (CASE WHEN c < a THEN 1 ELSE 0 END)) * 9
               + ((CASE WHEN a <= b THEN 1 ELSE 0 END)
                  + (CASE WHEN c < b THEN 1 ELSE 0 END)) * 3
               + ((CASE WHEN a <= c THEN 1 ELSE 0 END)
                  + (CASE WHEN b <= c THEN 1 ELSE 0 END)) AS pattern_id
        FROM led WHERE b IS NOT NULL AND c IS NOT NULL
    ),
    pc AS (
        SELECT pattern_id, COUNT(*) AS cnt FROM pat GROUP BY pattern_id
    ),
    h AS (
        SELECT SUM(cnt) AS n, COUNT(*) AS n_patterns,
               SUM(CAST(ROUND(cnt * LN(cnt) * 1000000000) AS BIGINT))
                   AS snln_e9,
               MAX_BY(pattern_id, cnt * 1000 - pattern_id) AS top_pattern
        FROM pc
    )
    SELECT CAST(n AS BIGINT) AS n_triples,
           CAST(n_patterns AS BIGINT) AS n_patterns_seen,
           ROUND(LN(n) - CAST(snln_e9 AS DOUBLE) / 1e9 / n, 6)
               AS perm_entropy,
           ROUND((LN(n) - CAST(snln_e9 AS DOUBLE) / 1e9 / n) / LN(6), 6)
               AS normalized_pe,
           CAST(top_pattern AS BIGINT) AS top_pattern
    FROM h
    """,
)
def q_daily_revenue_permutation_entropy(spark, t):
    """Permutation entropy (Bandt-Pompe) of daily revenue at
    embedding dimension 3: every consecutive day-triple is reduced
    to its ordinal pattern (which of the 6 orderings the three
    values take, ties resolved to the EARLIER day — the stable
    argsort convention), and the entropy of the pattern distribution
    measures series complexity: ~0 for monotone trends, ln(6) for
    i.i.d. noise. Complements the runs test (sign randomness),
    Hurst R/S (long memory), and Ljung-Box (linear autocorrelation)
    with a nonparametric, amplitude-free complexity read of the
    dashboard's trend pane (app.py:281-284).

    Determinism: patterns are exact integer comparisons of exact
    cent sums (no floats); n*ln(n) terms are e9-integerized PER
    PATTERN (6 bounded rows) before the integer sum; the modal
    pattern argmax uses an integer composite key (cnt*1000 -
    pattern_id) so count ties resolve to the smallest pattern id on
    both engines.

    Scale shape: ONE day-grain rollup, a 2-lag LEAD chain over the
    calendar-bounded day frame (allowlisted bounded window), then a
    <=6-row pattern rollup and one scalar fold."""
    d = t["orders"].groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(o_cents()).alias("cents"))
    w = Window.orderBy("day")
    led = d.select(
        F.col("cents").alias("a"),
        F.lead("cents", 1).over(w).alias("b"),
        F.lead("cents", 2).over(w).alias("c"),
    ).filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    one = lambda cond: F.when(cond, 1).otherwise(0)  # noqa: E731
    pat = led.select(
        (
            (one(F.col("b") < F.col("a")) + one(F.col("c") < F.col("a"))) * 9
            + (one(F.col("a") <= F.col("b")) + one(F.col("c") < F.col("b")))
            * 3
            + (one(F.col("a") <= F.col("c")) + one(F.col("b") <= F.col("c")))
        ).alias("pattern_id")
    )
    pc = pat.groupBy("pattern_id").agg(F.count(F.lit(1)).alias("cnt"))
    h = pc.agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("n_patterns"),
        F.sum(
            F.round(F.col("cnt") * F.log(F.col("cnt")) * 1e9).cast("long")
        ).alias("snln_e9"),
        F.expr("MAX_BY(pattern_id, cnt * 1000 - pattern_id)").alias(
            "top_pattern"
        ),
    )
    pe = F.log(F.col("n")) - F.col("snln_e9").cast("double") / 1e9 / F.col(
        "n"
    )
    return h.select(
        F.col("n").cast("long").alias("n_triples"),
        F.col("n_patterns").cast("long").alias("n_patterns_seen"),
        F.round(pe, 6).alias("perm_entropy"),
        F.round(pe / F.log(F.lit(6.0)), 6).alias("normalized_pe"),
        F.col("top_pattern").cast("long").alias("top_pattern"),
    )


# --------------------------------------------------------------------------
# 7. Lin's concordance correlation: order totals vs lineitem sums
# --------------------------------------------------------------------------

@query(
    "order_total_lineitem_ccc",
    oracle=f"""
    WITH per_order AS (
        SELECT o.o_orderkey,
               MAX({O_CENTS}) AS x,
               SUM({L_REV_CENTS}) AS y
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey
    ),
    m AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(x AS DECIMAL(38,0))) AS sx,
               SUM(CAST(y AS DECIMAL(38,0))) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                   AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS syy,
               SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS sxy
        FROM per_order
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           ROUND(2 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    + CAST(n * syy - sy * sy AS DOUBLE)
                    + CAST((sx - sy) * (sx - sy) AS DOUBLE)), 6) AS ccc,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS pearson_r,
           ROUND(CAST(sx - sy AS DOUBLE) / n, 2) AS mean_diff_cents
    FROM m
    """,
)
def q_order_total_lineitem_ccc(spark, t):
    """Lin's concordance correlation between the order header total
    and the sum of its line net revenues, at order grain.
    order_total_reconciliation counts exact mismatches; CCC grades
    the agreement CONTINUOUSLY — precision (Pearson r) times
    accuracy (a penalty for location/scale shift):
    ccc = 2*cov / (var_x + var_y + (mean_x - mean_y)^2). The Silver
    reconciliation number (ecom_Silver_Layer.ipynb:191-289) that
    distinguishes "noisy but unbiased" from "systematically off".

    Determinism: per-order cents are exact BIGINT (the header total
    rides MAX over the join — constant per order); the five moment
    pools are exact DECIMAL(38,0); ccc/r/diff are IEEE ratios of
    exact integers.

    Scale shape: ONE fact join keyed on the aggregation key
    (orderkey — a single shuffle co-partitions join and group-by),
    then one scalar moment aggregate with map-side partials."""
    dec = "decimal(38,0)"
    l_rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    per_order = (
        ensure_parallelism(t["orders"])
        .select(F.col("o_orderkey"), o_cents().alias("oc"))
        .join(
            t["lineitem"].select(
                F.col("l_orderkey").alias("o_orderkey"), l_rev.alias("lc")
            ),
            "o_orderkey",
        )
        .groupBy("o_orderkey")
        .agg(F.max("oc").alias("x"), F.sum("lc").alias("y"))
    )
    xd, yd = F.col("x").cast(dec), F.col("y").cast(dec)
    m = per_order.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    sxy = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    sxx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    syy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    bias = (
        (F.col("sx") - F.col("sy")) * (F.col("sx") - F.col("sy"))
    ).cast("double")
    return m.select(
        F.col("n").cast("long").alias("n_orders"),
        F.round(2 * sxy / (sxx + syy + bias), 6).alias("ccc"),
        F.round(sxy / F.sqrt(sxx * syy), 6).alias("pearson_r"),
        F.round(
            (F.col("sx") - F.col("sy")).cast("double") / F.col("n"), 2
        ).alias("mean_diff_cents"),
    )


# --------------------------------------------------------------------------
# 8. Moran's I autocorrelation of revenue over the trade graph
# --------------------------------------------------------------------------

@query(
    "nation_revenue_morans_i",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_nationkey AS nk,
               COALESCE(SUM({O_CENTS}), 0) AS cents
        FROM nation n
        LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY n.n_nationkey
    ),
    tot AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(cents AS DECIMAL(38,0))) AS s,
               SUM(CAST(cents AS DECIMAL(38,0))
                   * CAST(cents AS DECIMAL(38,0))) AS ss
        FROM rev
    ),
    z AS (
        SELECT nk,
               CAST(ROUND((cents - CAST(tot.s AS DOUBLE) / tot.n)
                          / SQRT((CAST(tot.ss AS DOUBLE)
                                  - CAST(tot.s AS DOUBLE)
                                    * CAST(tot.s AS DOUBLE) / tot.n)
                                 / tot.n)
                          * 1000000) AS BIGINT) AS z_e6
        FROM rev, tot
    ),
    w AS (
        SELECT c.c_nationkey AS i, s.s_nationkey AS j, COUNT(*) AS wt
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
    ),
    num AS (
        SELECT SUM(wt) AS w_total,
               SUM(CAST(wt AS DECIMAL(38,0)) * zi.z_e6 * zj.z_e6) AS swzz
        FROM w JOIN z zi ON zi.nk = w.i JOIN z zj ON zj.nk = w.j
    ),
    den AS (
        SELECT MAX(tot.n) AS n,
               SUM(CAST(z_e6 AS DECIMAL(38,0)) * z_e6) AS szz
        FROM z, tot
    )
    SELECT CAST(den.n AS BIGINT) AS n_nations,
           CAST(num.w_total AS BIGINT) AS w_total,
           ROUND(CAST(den.n AS DOUBLE) / num.w_total
                 * CAST(num.swzz AS DOUBLE) / CAST(den.szz AS DOUBLE), 6)
               AS morans_i,
           ROUND(CAST(-1.0 AS DOUBLE) / (den.n - 1), 6) AS expected_i
    FROM num, den
    """,
)
def q_nation_revenue_morans_i(spark, t):
    """Moran's I autocorrelation of customer revenue over the
    international trade graph: nations are nodes, edge weights are
    cross-nation lineitem counts (customer nation x supplier
    nation), and I = (N/W) * sum_ij w_ij z_i z_j / sum_i z_i^2
    asks whether high-revenue nations trade with other high-revenue
    nations (I > -1/(N-1)) or with low-revenue ones.
    supplier_part_degree_assortativity reads DEGREE mixing of the
    bipartite graph; Moran's I reads ATTRIBUTE mixing over the
    weighted nation graph — the network-autocorrelation read of the
    dashboard's nation/region views (app.py:165-170).

    Determinism: nation revenues are exact BIGINT cents; z is
    e6-integerized per nation (mean and sd are each one IEEE op on
    exact DECIMAL pools); the numerator and denominator accumulate
    integer products in DECIMAL(38,0); the final I is a ratio of
    exact integers times N/W. z is scale-free, so pools are bounded
    by the 25-nation grain at any data scale.

    Scale shape: one customer-side rollup for revenues (broadcast
    dims), ONE fact join chain for the edge weights collapsing
    immediately to the <=625-cell nation-pair frame, then broadcast
    joins of the 25-row z frame onto the cell frame — both scalar
    folds run on bounded frames."""
    dec = "decimal(38,0)"
    # pinned: the 25-row revenue frame feeds the moment rollup AND
    # the z projection — the orders/customer chain scans once
    rev = pin(
        t["nation"]
        .select(F.col("n_nationkey").alias("nk"))
        .join(
            t["customer"].select(
                F.col("c_nationkey").alias("nk"),
                F.col("c_custkey").alias("ck"),
            ),
            "nk",
            "left",
        )
        .join(
            t["orders"].select(
                F.col("o_custkey").alias("ck"), o_cents().alias("oc")
            ),
            "ck",
            "left",
        )
        .groupBy("nk")
        .agg(F.coalesce(F.sum("oc"), F.lit(0)).alias("cents"))
    )
    tot = rev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast(dec)).alias("s"),
        F.sum(F.col("cents").cast(dec) * F.col("cents").cast(dec)).alias(
            "ss"
        ),
    )
    sd_expr = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
        )
        / F.col("n")
    )
    z = pin(
        rev.crossJoin(F.broadcast(tot)).select(
            "nk",
            "n",
            F.round(
                (F.col("cents") - F.col("s").cast("double") / F.col("n"))
                / sd_expr
                * 1e6
            )
            .cast("long")
            .alias("z_e6"),
        )
    )
    w = (
        ensure_parallelism(t["lineitem"])
        .select("l_orderkey", "l_suppkey")
        .join(
            t["orders"].select(
                F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
            ),
            "l_orderkey",
        )
        .join(
            F.broadcast(
                t["customer"].select(
                    F.col("c_custkey").alias("o_custkey"), "c_nationkey"
                )
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                t["supplier"].select(
                    F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
                )
            ),
            "l_suppkey",
        )
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("i"), F.col("s_nationkey").alias("j")
        )
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    num = (
        w.join(
            F.broadcast(
                z.select(F.col("nk").alias("i"), F.col("z_e6").alias("zi"))
            ),
            "i",
        )
        .join(
            F.broadcast(
                z.select(F.col("nk").alias("j"), F.col("z_e6").alias("zj"))
            ),
            "j",
        )
        .agg(
            F.sum("wt").alias("w_total"),
            F.sum(F.col("wt").cast(dec) * F.col("zi") * F.col("zj")).alias(
                "swzz"
            ),
        )
    )
    den = z.agg(
        F.max("n").alias("n"),
        F.sum(F.col("z_e6").cast(dec) * F.col("z_e6")).alias("szz"),
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("n").cast("long").alias("n_nations"),
        F.col("w_total").cast("long").alias("w_total"),
        F.round(
            F.col("n").cast("double")
            / F.col("w_total")
            * F.col("swzz").cast("double")
            / F.col("szz").cast("double"),
            6,
        ).alias("morans_i"),
        F.round(-1.0 / (F.col("n") - 1), 6).alias("expected_i"),
    )


# --------------------------------------------------------------------------
# Composed oracle: Cohen's kappa (reuses the MinHash CTE chain + the
# SimHash near-dup oracle, exactly like doc_dedup_family_agreement)
# --------------------------------------------------------------------------

from .llm_queries import _MINHASH_CTES as _MHC12  # noqa: E402

ORACLES["doc_dedup_detector_kappa"] = rf"""
    WITH {_MHC12},
    mh_docs AS (
        SELECT doc_a AS doc_id FROM cand
        UNION
        SELECT doc_b AS doc_id FROM cand
    ),
    sh_pairs AS (
        SELECT doc_a, doc_b FROM ({ORACLES["doc_simhash_near_dup"]}) s
    ),
    sh_docs AS (
        SELECT doc_a AS doc_id FROM sh_pairs
        UNION
        SELECT doc_b AS doc_id FROM sh_pairs
    ),
    u AS (
        SELECT CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END AS mh,
               CASE WHEN sd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS sh
        FROM documents d
        LEFT JOIN mh_docs m ON m.doc_id = d.doc_id
        LEFT JOIN sh_docs sd ON sd.doc_id = d.doc_id
    ),
    c AS (
        SELECT COUNT(*) AS n,
               SUM(mh * sh) AS n11,
               SUM(mh * (1 - sh)) AS n10,
               SUM((1 - mh) * sh) AS n01,
               SUM((1 - mh) * (1 - sh)) AS n00
        FROM u
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(n11 AS BIGINT) AS n_both_flag,
           CAST(n10 AS BIGINT) AS n_minhash_only,
           CAST(n01 AS BIGINT) AS n_simhash_only,
           CAST(n00 AS BIGINT) AS n_neither,
           ROUND((n11 + n00) * 1.0 / n, 6) AS observed_agreement,
           ROUND(CAST(CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
                      + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00)
                      AS DOUBLE)
                 / CAST(CAST(n AS DECIMAL(38,0)) * n AS DOUBLE), 6)
               AS chance_agreement,
           ROUND(CAST(CAST(n AS DECIMAL(38,0)) * (n11 + n00)
                      - (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
                         + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00))
                      AS DOUBLE)
                 / NULLIF(CAST(CAST(n AS DECIMAL(38,0)) * n
                               - (CAST(n11 + n10 AS DECIMAL(38,0))
                                  * (n11 + n01)
                                  + CAST(n01 + n00 AS DECIMAL(38,0))
                                  * (n10 + n00)) AS DOUBLE), 0), 6)
               AS cohen_kappa
    FROM c
"""
