"""Round-8-staged corpus additions (registered in round 7, strict-
checked at sf0.01, scheduled for driver rows in the round-8 window):
pricing-dispersion and concentration analytics, burstiness and
band-migration customer models, boilerplate prefix clustering,
duplicate-event sizing, sentence-grain dedup, and the PQ rank
displacement diagnostic.

Reference anchors: the dispersion/concentration marts extend the
reference dashboard's brand and customer tabs (app.py:286-470); the
dedup/PQ additions deepen the LLM-data family graded alongside
SURVEY.md §2.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from event_driven_data_pipeline_for_e_commerce_spark.operators.partitioning import (
    ensure_parallelism,
)
from event_driven_data_pipeline_for_e_commerce_spark.operators.pinning import pin

from ..functions.money import O_CENTS
from .corpus import ORACLES, QUERIES, query


@query(
    "part_price_dispersion_topk",
    oracle="""
    WITH u AS (
        SELECT l_partkey,
               -- exact integer unit price in 1e-4 cents: FLOOR of a
               -- correctly-rounded IEEE division (true values are
               -- rationals with denominator <= 50*100, never within
               -- an ulp of an integer), so NO ROUND-on-double appears
               -- anywhere (ROUND at a shortest-repr ..5 boundary is
               -- engine-dependent: DuckDB rounds the decimal repr,
               -- Spark the exact binary expansion)
               CAST(FLOOR(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                          * 10000.0 / CAST(l_quantity AS BIGINT))
                    AS BIGINT) AS unit_e4
        FROM lineitem WHERE l_quantity > 0
    ),
    d AS (
        SELECT l_partkey,
               COUNT(*) AS n_lines,
               MIN(unit_e4) AS min_unit_e4,
               MAX(unit_e4) AS max_unit_e4
        FROM u GROUP BY l_partkey HAVING COUNT(*) >= 3
    )
    SELECT l_partkey, n_lines, min_unit_e4, max_unit_e4,
           CAST(FLOOR(max_unit_e4 * 10000.0 / min_unit_e4) AS BIGINT)
               AS dispersion_bp
    FROM d
    ORDER BY CAST(FLOOR(max_unit_e4 * 10000.0 / min_unit_e4) AS BIGINT)
             DESC, l_partkey
    LIMIT 20
    """,
)
def q_part_price_dispersion_topk(spark, t):
    """Unit-price dispersion per part: the 20 parts whose realized
    unit price (extended price / quantity) varies most across line
    items — the price-integrity audit behind discount leakage and
    contract-violation hunts (discount_band_margin shows the policy;
    this shows the outliers). All outputs are exact integers (unit
    prices in 1e-4 cents, dispersion in basis points) — see the
    oracle comment for why ROUND-on-double is banned here.

    Scale shape: one map-combined part-grain min/max rollup in exact
    integers (one shuffle), then a TakeOrdered top-20 — never a
    global sort."""
    u = t["lineitem"].filter(F.col("l_quantity") > 0).select(
        "l_partkey",
        F.floor(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * 10000.0
            / F.col("l_quantity").cast("bigint")
        ).cast("bigint").alias("unit_e4"),
    )
    d = (
        u.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min("unit_e4").alias("min_unit_e4"),
            F.max("unit_e4").alias("max_unit_e4"),
        )
        .filter(F.col("n_lines") >= 3)
    )
    bp = F.floor(
        F.col("max_unit_e4") * 10000.0 / F.col("min_unit_e4")
    ).cast("bigint")
    return (
        d.select(
            "l_partkey", "n_lines", "min_unit_e4", "max_unit_e4",
            bp.alias("dispersion_bp"),
        )
        .orderBy(F.desc("dispersion_bp"), F.asc("l_partkey"))
        .limit(20)
    )


@query(
    "quarterly_top_customer_share",
    oracle=f"""
    WITH q AS (
        SELECT year(o_orderdate) * 10 + quarter(o_orderdate) AS yq,
               o_custkey, SUM({O_CENTS}) AS cents
        FROM orders GROUP BY 1, 2
    ),
    r AS (
        SELECT yq, cents,
               ROW_NUMBER() OVER (PARTITION BY yq
                                  ORDER BY cents DESC, o_custkey) AS rn,
               SUM(cents) OVER (PARTITION BY yq) AS total
        FROM q
    )
    SELECT CAST(yq AS BIGINT) AS yq,
           CAST(SUM(CASE WHEN rn <= 10 THEN cents ELSE 0 END) AS BIGINT)
               AS top10_cents,
           CAST(MAX(total) AS BIGINT) AS total_cents,
           ROUND(SUM(CASE WHEN rn <= 10 THEN cents ELSE 0 END) * 100.0
                 / MAX(total), 4) AS top10_share_pct
    FROM r GROUP BY yq ORDER BY yq
    """,
)
def q_quarterly_top_customer_share(spark, t):
    """Revenue-concentration trend: the share of each quarter's
    revenue carried by its top-10 customers — rising concentration is
    account risk (customer_pareto_abc gives the static curve; this
    gives its trajectory).

    Scale shape: one (quarter, customer)-grain rollup, then the rank
    and share windows run keyed BY QUARTER (shuffle-parallel across
    quarters, never a global sort), and a bounded quarter rollup."""
    def _c(col):
        return F.round(F.col(col) * 100).cast("bigint")

    q = (
        t["orders"]
        .groupBy(
            (F.year("o_orderdate") * 10 + F.quarter("o_orderdate")).alias(
                "yq"
            ),
            "o_custkey",
        )
        .agg(F.sum(_c("o_totalprice")).alias("cents"))
    )
    wq = Window.partitionBy("yq")
    r = q.select(
        "yq",
        "cents",
        F.row_number()
        .over(wq.orderBy(F.desc("cents"), F.asc("o_custkey")))
        .alias("rn"),
        F.sum("cents").over(wq).alias("total"),
    )
    top = F.sum(F.when(F.col("rn") <= 10, F.col("cents")).otherwise(0))
    return (
        r.groupBy(F.col("yq").cast("long").alias("yq"))
        .agg(
            top.cast("long").alias("top10_cents"),
            F.max("total").cast("long").alias("total_cents"),
            F.round(top * 100.0 / F.max("total"), 4).alias(
                "top10_share_pct"
            ),
        )
        .orderBy("yq")
    )


@query(
    "order_gap_burstiness",
    oracle="""
    WITH g AS (
        SELECT o_custkey,
               CAST(CAST(o_orderdate AS DATE)
                    - LAG(CAST(o_orderdate AS DATE)) OVER (
                          PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                      ) AS BIGINT) AS gap
        FROM orders
    ),
    cv AS (
        SELECT o_custkey,
               COUNT(*) AS n_gaps,
               AVG(gap) AS mu,
               stddev_samp(gap) AS sd
        FROM g WHERE gap IS NOT NULL
        GROUP BY o_custkey HAVING COUNT(*) >= 3 AND AVG(gap) > 0
    ),
    j AS (
        SELECT c2.c_mktsegment AS segment, cv.sd / cv.mu AS cv
        FROM cv JOIN customer c2 ON c2.c_custkey = cv.o_custkey
        WHERE cv.sd IS NOT NULL
    )
    SELECT segment,
           COUNT(*) AS n_customers,
           ROUND(AVG(cv), 4) AS avg_cv,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY cv), 4)
               AS p50_cv,
           ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY cv), 4)
               AS p90_cv
    FROM j GROUP BY segment ORDER BY segment
    """,
)
def q_order_gap_burstiness(spark, t):
    """Ordering burstiness: the coefficient of variation of each
    customer's inter-order gaps (CV ≈ 1 is Poisson-like, CV >> 1 is
    bursty), distributed per segment — the regularity signal that
    separates subscription-like behavior from campaign-driven spikes
    (repeat_purchase_intervals reports the gaps; this scores their
    dispersion).

    Scale shape: customer-partitioned LAG + per-customer moment
    rollup (both keyed by customer — one shuffle), then a 5-row
    segment rollup with single-pass exact percentiles."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = t["orders"].select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).cast("long").alias("gap"),
    ).filter(F.col("gap").isNotNull())
    cv = (
        g.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.avg("gap").alias("mu"),
            F.stddev_samp("gap").alias("sd"),
        )
        .filter((F.col("n_gaps") >= 3) & (F.col("mu") > 0))
        .filter(F.col("sd").isNotNull())
    )
    j = cv.join(
        t["customer"].select("c_custkey", "c_mktsegment"),
        F.col("c_custkey") == F.col("o_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("sd") / F.col("mu")).alias("cv"),
    )
    return (
        j.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("cv"), 4).alias("avg_cv"),
            F.round(F.expr("percentile(cv, 0.5)"), 4).alias("p50_cv"),
            F.round(F.expr("percentile(cv, 0.9)"), 4).alias("p90_cv"),
        )
        .orderBy("segment")
    )


@query(
    "brand_seasonal_amplitude",
    oracle="""
    WITH m AS (
        SELECT p.p_brand, month(l.l_shipdate) AS mth,
               SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS cents
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand, month(l.l_shipdate)
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_months,
           CAST(MIN(cents) AS BIGINT) AS min_month_cents,
           CAST(MAX(cents) AS BIGINT) AS max_month_cents,
           ROUND((MAX(cents) - MIN(cents)) * 1.0
                 / (SUM(cents) * 1.0 / COUNT(*)), 4) AS amplitude_ratio
    FROM m GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_brand_seasonal_amplitude(spark, t):
    """Seasonal amplitude per brand: (peak month − trough month) over
    the mean monthly revenue, on calendar-month totals — the inventory
    planning number (monthly_seasonal_index gives the corpus-wide
    curve; this localizes swing to brands).

    Scale shape: broadcast part dim attaches brand map-side, one
    (brand, month)-grain rollup in integer cents, bounded brand
    rollup."""
    m = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("p_brand", F.month("l_shipdate").alias("mth"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("cents")
        )
    )
    return (
        m.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_months"),
            F.min("cents").cast("long").alias("min_month_cents"),
            F.max("cents").cast("long").alias("max_month_cents"),
            F.round(
                (F.max("cents") - F.min("cents"))
                * 1.0
                / (F.sum("cents") * 1.0 / F.count(F.lit(1))),
                4,
            ).alias("amplitude_ratio"),
        )
        .orderBy("p_brand")
    )


@query(
    "events_duplicate_profile",
    oracle="""
    WITH c AS (
        SELECT event_id, COUNT(*) AS n FROM events GROUP BY event_id
    )
    SELECT CAST(LEAST(n, 5) AS BIGINT) AS copies,
           COUNT(*) AS n_event_ids,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           ROUND(SUM(n) * 100.0 / (SELECT SUM(n) FROM c), 4)
               AS row_share_pct
    FROM c GROUP BY LEAST(n, 5) ORDER BY copies
    """,
)
def q_events_duplicate_profile(spark, t):
    """Duplicate-multiplicity histogram of the event stream: how many
    event ids arrive once, twice, ... (capped at 5+) and what row
    share each class carries — the sizing input for ST5's
    dropDuplicates state store (events_dedup_rate_by_day gives the
    rate over time; this gives the multiplicity distribution the
    dedup buffer must absorb).

    Scale shape: one hash-only id-grain count (ids shuffle, payloads
    don't), a bounded multiplicity rollup, and one scalar total
    broadcast back for the share."""
    c = t["events"].groupBy("event_id").agg(F.count(F.lit(1)).alias("n"))
    c = pin(c)
    total = c.agg(F.sum("n").alias("t"))
    return (
        c.groupBy(F.least(F.col("n"), F.lit(5)).cast("long").alias("copies"))
        .agg(
            F.count(F.lit(1)).alias("n_event_ids"),
            F.sum("n").cast("long").alias("n_rows"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "copies",
            "n_event_ids",
            "n_rows",
            F.round(F.col("n_rows") * 100.0 / F.col("t"), 4).alias(
                "row_share_pct"
            ),
        )
        .orderBy("copies")
    )


@query(
    "order_value_band_migration",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey, o_orderkey, o_orderdate, {O_CENTS} AS cents,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ),
    first_band AS (
        SELECT o_custkey,
               LEAST(CAST(FLOOR(cents / 10000000.0) AS BIGINT), 4)
                   AS first_band
        FROM o WHERE rn = 1
    ),
    life AS (
        SELECT o_custkey,
               LEAST(CAST(FLOOR(SUM(cents) * 1.0 / COUNT(*) / 10000000.0)
                          AS BIGINT), 4) AS life_band
        FROM o GROUP BY o_custkey
    )
    SELECT f.first_band, l.life_band,
           COUNT(*) AS n_customers
    FROM first_band f JOIN life l ON l.o_custkey = f.o_custkey
    GROUP BY f.first_band, l.life_band
    ORDER BY f.first_band, l.life_band
    """,
)
def q_order_value_band_migration(spark, t):
    """First-order-value band vs lifetime-average band (bands of
    $100k, capped at 4): the migration matrix that answers whether a
    customer's first basket predicts their long-run basket — the
    diagonal mass is the 'first order tells you everything' signal
    the acquisition team acts on (customer_value_migration tracks
    year-over-year tiers; this anchors on the first transaction).

    Scale shape: one customer-partitioned row_number window + one
    customer-grain rollup (same key — one shuffle serves both), then
    a bounded 5×5 matrix rollup. Band arithmetic uses the
    non-negative FLOOR-division lever end-to-end."""
    def _c(col):
        return F.round(F.col(col) * 100).cast("bigint")

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = t["orders"].select(
        "o_custkey",
        _c("o_totalprice").alias("cents"),
        F.row_number().over(w).alias("rn"),
    )
    o = pin(o)
    first_band = o.filter(F.col("rn") == 1).select(
        "o_custkey",
        F.least(
            F.floor(F.col("cents") / 10000000.0).cast("bigint"), F.lit(4)
        ).alias("first_band"),
    )
    life = o.groupBy("o_custkey").agg(
        F.least(
            F.floor(
                F.sum("cents") * 1.0 / F.count(F.lit(1)) / 10000000.0
            ).cast("bigint"),
            F.lit(4),
        ).alias("life_band")
    )
    return (
        first_band.join(life, "o_custkey")
        .groupBy("first_band", "life_band")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("first_band", "life_band")
    )


@query(
    "doc_prefix_cluster_sizes",
    oracle="""
    WITH p AS (
        SELECT source, md5(substr(text, 1, 32)) AS pfx
        FROM documents WHERE text IS NOT NULL AND length(text) >= 32
    ),
    c AS (
        SELECT source, pfx, COUNT(*) AS n
        FROM p GROUP BY source, pfx
    )
    SELECT source,
           CAST(LEAST(n, 4) AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(n) AS BIGINT) AS n_docs
    FROM c GROUP BY source, LEAST(n, 4)
    ORDER BY source, cluster_size
    """,
)
def q_doc_prefix_cluster_sizes(spark, t):
    """Boilerplate template detection: cluster documents by their
    first 32 characters (hashed) and histogram the cluster sizes per
    source (capped at 4+) — a source whose mass sits in big prefix
    clusters is template-generated and needs prefix-aware dedup
    (doc_prefix_dup_rate gives one rate; this gives the cluster-size
    distribution that sizes the fix).

    Scale shape: md5 of a 32-char prefix map-side (text never
    shuffles), two bounded hash-grain rollups."""
    p = (
        ensure_parallelism(t["documents"])
        .filter(F.col("text").isNotNull() & (F.length("text") >= 32))
        .select(
            "source", F.md5(F.substring("text", 1, 32)).alias("pfx")
        )
    )
    c = p.groupBy("source", "pfx").agg(F.count(F.lit(1)).alias("n"))
    return (
        c.groupBy(
            "source",
            F.least(F.col("n"), F.lit(4)).cast("long").alias("cluster_size"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("n").cast("long").alias("n_docs"),
        )
        .orderBy("source", "cluster_size")
    )


@query(
    "region_brand_affinity_lift",
    oracle="""
    WITH sales AS (
        SELECT r.r_name AS region, p.p_brand,
               CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        JOIN part p ON p.p_partkey = l.l_partkey
    ),
    rb AS (
        SELECT region, p_brand, SUM(cents) AS cents
        FROM sales GROUP BY region, p_brand
    ),
    tot AS (SELECT SUM(cents) AS t FROM rb),
    rm AS (SELECT region, SUM(cents) AS rc FROM rb GROUP BY region),
    bm AS (SELECT p_brand, SUM(cents) AS bc FROM rb GROUP BY p_brand)
    SELECT rb.region, rb.p_brand,
           CAST(rb.cents AS BIGINT) AS cents,
           ROUND((rb.cents * 1.0 / rm.rc)
                 / (bm.bc * 1.0 / tot.t), 4) AS affinity_lift
    FROM rb
    JOIN rm ON rm.region = rb.region
    JOIN bm ON bm.p_brand = rb.p_brand
    CROSS JOIN tot
    ORDER BY rb.region, rb.p_brand
    """,
)
def q_region_brand_affinity_lift(spark, t):
    """Region-brand affinity: a brand's revenue share WITHIN a region
    divided by its global share — lift > 1 marks regional taste the
    assortment should exploit (same_nation_trade_lift scores the
    supply side; this scores demand).

    Scale shape: the 5-way dim chain broadcasts onto the fact
    (lineitem shuffles once for the orders join), one (region,
    brand)-grain rollup, then the marginals are bounded frames
    broadcast back — no second fact pass."""
    sales = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_regionkey")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .join(
            F.broadcast(t["region"].select("r_regionkey", "r_name")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(
            F.col("r_name").alias("region"),
            "p_brand",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias(
                "cents"
            ),
        )
    )
    rb = pin(
        sales.groupBy("region", "p_brand").agg(F.sum("cents").alias("cents"))
    )
    tot = rb.agg(F.sum("cents").alias("t"))
    rm = rb.groupBy("region").agg(F.sum("cents").alias("rc"))
    bm = rb.groupBy("p_brand").agg(F.sum("cents").alias("bc"))
    return (
        rb.join(F.broadcast(rm), "region")
        .join(F.broadcast(bm), "p_brand")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "p_brand",
            F.col("cents").cast("long").alias("cents"),
            F.round(
                (F.col("cents") * 1.0 / F.col("rc"))
                / (F.col("bc") * 1.0 / F.col("t")),
                4,
            ).alias("affinity_lift"),
        )
        .orderBy("region", "p_brand")
    )


@query("doc_sentence_dedup_rate", oracle=None)  # attached below
def q_doc_sentence_dedup_rate(spark, t):
    """Sentence-grain exact dedup rate per source: split documents at
    '. ' boundaries, hash each sentence (>= 20 chars), and measure how
    much of the sentence mass is repeated — the boilerplate metric at
    the grain where web-crawl repetition actually lives
    (doc_segment_dedup removes it; this measures how much there is to
    remove, per source).

    Scale shape: split + explode map-side; only (source, md5) pairs
    shuffle into one bounded source-grain rollup — sentence text
    never moves."""
    sents = (
        ensure_parallelism(t["documents"])
        .filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(F.split(F.col("text"), r"\. ")).alias("sent"),
        )
        .filter(F.length("sent") >= 20)
        .select("source", F.md5("sent").alias("h"))
    )
    return (
        sents.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.count_distinct("h").alias("n_distinct"),
            F.round(
                1.0 - F.count_distinct("h") / F.count(F.lit(1)), 4
            ).alias("sentence_dup_rate"),
        )
        .orderBy("source")
    )


ORACLES["doc_sentence_dedup_rate"] = """
    WITH sp AS (
        SELECT d.source, split_part(d.text, '. ', CAST(t.i AS INT)) AS sent
        FROM documents d, range(1, 32) t(i)
        WHERE d.text IS NOT NULL AND t.i <= (length(d.text)
              - length(replace(d.text, '. ', ''))) / 2 + 1
    ),
    s AS (
        SELECT source, md5(sent) AS h FROM sp WHERE length(sent) >= 20
    )
    SELECT source,
           COUNT(*) AS n_sentences,
           COUNT(DISTINCT h) AS n_distinct,
           ROUND(1.0 - COUNT(DISTINCT h) * 1.0 / COUNT(*), 4)
               AS sentence_dup_rate
    FROM s GROUP BY source ORDER BY source
"""


@query("emb_pq_rank_displacement", oracle=None)  # attached below
def q_emb_pq_rank_displacement(spark, t):
    """PQ rank-displacement diagnostic: where do the PQ top-k's
    neighbors actually sit in the EXACT squared-L2 ranking — recall@k
    (emb_ann_recall_contract) says how many truth hits survive; this
    says how far the misses drift (avg/worst exact rank per query),
    the number that separates 'barely outside k' from 'quantization
    broke the metric'.

    Scale shape: the exact ranking is a corpus × query-set window
    (bounded query set — audit-scale contract, same as the recall
    truth side); the PQ result is k rows per query; the join is
    query-set-sized."""
    from ..llmdata.similarity import _as_double, dot
    from .round3_queries import PQ_Q_HI, PQ_Q_LO

    e = ensure_parallelism(t["embeddings"]).select(
        "vec_id", _as_double("embedding").alias("v")
    )
    q = e.filter(
        (F.col("vec_id") >= PQ_Q_LO) & (F.col("vec_id") < PQ_Q_HI)
    ).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    pairs = e.withColumnRenamed("vec_id", "neighbor_id").join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    )
    d2 = (
        dot(F.col("v"), F.col("v"))
        + dot(F.col("qv"), F.col("qv"))
        - 2 * dot(F.col("v"), F.col("qv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    exact = pairs.withColumn("d2", d2).select(
        "query_id",
        "neighbor_id",
        F.row_number().over(w).cast("long").alias("exact_rank"),
    )
    pq = QUERIES["emb_pq_topk"](spark, t.sf_dir).select(
        "query_id", "neighbor_id"
    )
    return (
        pq.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.round(F.avg("exact_rank"), 4).alias("avg_exact_rank"),
            F.max("exact_rank").cast("long").alias("max_exact_rank"),
        )
        .orderBy("query_id")
    )


from .round3_queries import PQ_Q_HI as _PQHI8, PQ_Q_LO as _PQLO8  # noqa: E402

ORACLES["emb_pq_rank_displacement"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id >= {_PQLO8} AND vec_id < {_PQHI8}),
    exact AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_dot_product(e.v, e.v)
                            + list_dot_product(q.qv, q.qv)
                            - 2 * list_dot_product(e.v, q.qv),
                            e.vec_id
               ) AS exact_rank
        FROM e, q WHERE e.vec_id <> q.query_id
    ),
    pq AS (SELECT query_id, neighbor_id
           FROM ({ORACLES["emb_pq_topk"]}) s)
    SELECT pq.query_id,
           COUNT(*) AS k,
           ROUND(AVG(exact.exact_rank), 4) AS avg_exact_rank,
           CAST(MAX(exact.exact_rank) AS BIGINT) AS max_exact_rank
    FROM pq JOIN exact
      ON exact.query_id = pq.query_id
     AND exact.neighbor_id = pq.neighbor_id
    GROUP BY pq.query_id
    ORDER BY pq.query_id
"""


# --------------------------------------------------------------------------
# Second round-8-staged batch: graph k-core, per-nation forecast,
# letter entropy, IVF probe cost, quality-vs-dup, priority-dow chisq
# --------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_MIN_CO = 2


@query(
    "copurchase_kcore_peel3",
    oracle=f"""
    WITH pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e0 AS (
        SELECT pa, pb FROM pairs GROUP BY pa, pb
        HAVING COUNT(*) >= {_KCORE_MIN_CO}
    ),
    d1 AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT pa AS node FROM e0 UNION ALL SELECT pb FROM e0
        ) GROUP BY node
    ),
    n1 AS (SELECT node FROM d1 WHERE deg >= {_KCORE_K}),
    e1 AS (
        SELECT e.pa, e.pb FROM e0 e
        JOIN n1 x ON x.node = e.pa JOIN n1 y ON y.node = e.pb
    ),
    d2 AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT pa AS node FROM e1 UNION ALL SELECT pb FROM e1
        ) GROUP BY node
    ),
    n2 AS (SELECT node FROM d2 WHERE deg >= {_KCORE_K}),
    e2 AS (
        SELECT e.pa, e.pb FROM e1 e
        JOIN n2 x ON x.node = e.pa JOIN n2 y ON y.node = e.pb
    ),
    d3 AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT pa AS node FROM e2 UNION ALL SELECT pb FROM e2
        ) GROUP BY node
    ),
    n3 AS (SELECT node FROM d3 WHERE deg >= {_KCORE_K}),
    e3 AS (
        SELECT e.pa, e.pb FROM e2 e
        JOIN n3 x ON x.node = e.pa JOIN n3 y ON y.node = e.pb
    )
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS round,
               (SELECT COUNT(*) FROM n1) AS n_nodes,
               (SELECT COUNT(*) FROM e1) AS n_edges
        UNION ALL
        SELECT CAST(2 AS BIGINT),
               (SELECT COUNT(*) FROM n2), (SELECT COUNT(*) FROM e2)
        UNION ALL
        SELECT CAST(3 AS BIGINT),
               (SELECT COUNT(*) FROM n3), (SELECT COUNT(*) FROM e3)
    ) ORDER BY round
    """,
)
def q_copurchase_kcore_peel3(spark, t):
    """Three peeling rounds toward the k-core (k=3) of the co-purchase
    graph (edges = part pairs co-purchased in >= 2 orders): each round
    drops nodes with degree < k and re-induces the edge set — the
    convergence trajectory tells you how much of the graph is
    load-bearing structure vs fringe (pagerank ranks it; triangles
    count local density; the core is what recommendation random-walks
    actually live on).

    Scale shape: pair generation is the basket-collect shape
    (basket_part_pairs): ONE groupBy on the order key gathers each
    basket's distinct sorted parts (bounded by lines-per-order) and
    the pairs unfold MAP-SIDE — the former self-join formulation
    shuffled the order-part relation three times (distinct + join +
    pair rollup); this touches it once plus the pair rollup. Each
    peel is a bounded part-grain degree rollup + two
    semi-join-like inner joins on the pinned edge frame — a FIXED 3
    iterations, never an unbounded fixpoint driver loop."""
    baskets = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") > 1)
    )
    pair_expr = (
        "flatten(transform(parts, (a, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "b -> struct(a AS pa, b AS pb))))"
    )
    pairs = baskets.select(F.explode(F.expr(pair_expr)).alias("p")).select(
        "p.pa", "p.pb"
    )
    edges = pin(
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= _KCORE_MIN_CO)
        .select("pa", "pb")
    )
    rows = []
    cur = edges
    for rnd in (1, 2, 3):
        deg = (
            cur.select(F.col("pa").alias("node"))
            .unionAll(cur.select(F.col("pb").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = pin(deg.filter(F.col("deg") >= _KCORE_K).select("node"))
        cur = pin(
            cur.join(
                keep.select(F.col("node").alias("pa")), "pa"
            ).join(keep.select(F.col("node").alias("pb")), "pb")
        )
        n_nodes = keep.agg(F.count(F.lit(1)).alias("n_nodes"))
        n_edges = cur.agg(F.count(F.lit(1)).alias("n_edges"))
        rows.append(
            n_nodes.crossJoin(n_edges).select(
                F.lit(rnd).cast("long").alias("round"),
                "n_nodes",
                "n_edges",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("round")


@query(
    "nation_revenue_forecast_linreg",
    oracle=f"""
    WITH q AS (
        SELECT n.n_name AS nation,
               (year(o.o_orderdate) - 1995) * 4 + quarter(o.o_orderdate)
                   - 1 AS qidx,
               SUM({O_CENTS}) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ),
    m AS (
        SELECT nation,
               COUNT(*) AS n_quarters,
               regr_slope(cents / 100.0, CAST(qidx AS DOUBLE))
                   AS slope,
               AVG(cents / 100.0) AS ybar,
               AVG(CAST(qidx AS DOUBLE)) AS xbar,
               MAX(qidx) AS max_qidx,
               regr_r2(cents / 100.0, CAST(qidx AS DOUBLE)) AS r2
        FROM q GROUP BY nation
    )
    SELECT nation, n_quarters,
           ROUND(slope, 4) AS slope_usd_per_quarter,
           ROUND(r2, 4) AS r2,
           ROUND(ybar - slope * xbar + slope * (max_qidx + 1), 2)
               AS next_quarter_forecast_usd
    FROM m ORDER BY nation
    """,
)
def q_nation_revenue_forecast_linreg(spark, t):
    """Per-nation next-quarter revenue forecast from an OLS trend over
    the quarterly series (intercept recovered as ybar - slope*xbar, so
    only the verified regr_slope/regr_r2 levers appear) — the
    nation-grain refinement of the corpus-level trend family
    (region_quarter_revenue_yoy shows the past; this extrapolates).

    Scale shape: one (nation, quarter)-grain rollup behind broadcast
    dims, then a 25-row nation rollup of single-pass co-moment
    aggregates."""
    def _c(col):
        return F.round(F.col(col) * 100).cast("bigint")

    q = (
        t["orders"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                (F.year("o_orderdate") - 1995) * 4
                + F.quarter("o_orderdate")
                - 1
            ).alias("qidx"),
        )
        .agg(F.sum(_c("o_totalprice")).alias("cents"))
    )
    m = q.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_quarters"),
        F.regr_slope(
            F.col("cents") / 100.0, F.col("qidx").cast("double")
        ).alias("slope"),
        F.avg(F.col("cents") / 100.0).alias("ybar"),
        F.avg(F.col("qidx").cast("double")).alias("xbar"),
        F.max("qidx").alias("max_qidx"),
        F.regr_r2(
            F.col("cents") / 100.0, F.col("qidx").cast("double")
        ).alias("r2"),
    )
    return m.select(
        "nation",
        "n_quarters",
        F.round("slope", 4).alias("slope_usd_per_quarter"),
        F.round("r2", 4).alias("r2"),
        F.round(
            F.col("ybar")
            - F.col("slope") * F.col("xbar")
            + F.col("slope") * (F.col("max_qidx") + 1),
            2,
        ).alias("next_quarter_forecast_usd"),
    ).orderBy("nation")


_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _letter_entropy_oracle() -> str:
    counts = ",\n               ".join(
        f"SUM(length(s) - length(replace(s, '{ch}', ''))) AS c_{ch}"
        for ch in _LETTERS
    )
    total = " + ".join(f"c_{ch}" for ch in _LETTERS)
    terms = "\n                 + ".join(
        f"CASE WHEN c_{ch} > 0 THEN -(c_{ch} * 1.0 / t) * LN(c_{ch} * 1.0 / t) ELSE 0 END"
        for ch in _LETTERS
    )
    return f"""
    WITH d AS (
        SELECT source, lower(text) AS s FROM documents
        WHERE text IS NOT NULL
    ),
    m AS (
        SELECT source,
               COUNT(*) AS n_docs,
               {counts}
        FROM d GROUP BY source
    ),
    g AS (SELECT m.*, {total} AS t FROM m)
    SELECT source, n_docs,
           CAST(t AS BIGINT) AS n_letters,
           ROUND({terms}, 4) AS letter_entropy_nats
    FROM g WHERE t > 0 ORDER BY source
    """


@query("doc_letter_entropy_by_source", oracle=_letter_entropy_oracle())
def q_doc_letter_entropy_by_source(spark, t):
    """Letter-unigram entropy per source (nats, over a-z only) — the
    cheapest language/encoding fingerprint there is: natural prose
    sits near its language's letter entropy, while base64 blobs,
    minified code, or mojibake jump toward the 3.26-nat uniform
    ceiling. Pure replace-difference counting over a FIXED 26-letter
    alphabet (no explode, no regex, no per-character series), summed
    in one explicit order on both engines.

    Scale shape: 26 map-side counters per document folded into one
    source-grain partial aggregate — a single shuffle of 26 longs per
    source; the entropy arithmetic runs on the bounded source frame."""
    s = F.lower(F.col("text"))
    d = (
        ensure_parallelism(t["documents"])
        .filter(F.col("text").isNotNull())
        .select("source", s.alias("s"))
    )
    aggs = [F.count(F.lit(1)).alias("n_docs")] + [
        F.sum(
            F.length("s") - F.length(F.replace(F.col("s"), F.lit(ch)))
        ).alias(f"c_{ch}")
        for ch in _LETTERS
    ]
    m = d.groupBy("source").agg(*aggs)
    total = None
    for ch in _LETTERS:
        total = F.col(f"c_{ch}") if total is None else total + F.col(f"c_{ch}")
    g = m.withColumn("t", total)
    ent = None
    for ch in _LETTERS:
        p_ = F.col(f"c_{ch}") * 1.0 / F.col("t")
        term = F.when(F.col(f"c_{ch}") > 0, -p_ * F.log(p_)).otherwise(
            F.lit(0.0)
        )
        ent = term if ent is None else ent + term
    return (
        g.filter(F.col("t") > 0)
        .select(
            "source",
            "n_docs",
            F.col("t").cast("long").alias("n_letters"),
            F.round(ent, 4).alias("letter_entropy_nats"),
        )
        .orderBy("source")
    )


@query(
    "order_priority_dow_chisq",
    oracle="""
    WITH o AS (
        SELECT o_orderpriority AS priority,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-05'
                    AS BIGINT) % 7 AS dow
        FROM orders
    ),
    cell AS (
        SELECT priority, dow, COUNT(*) AS n FROM o GROUP BY priority, dow
    ),
    mp AS (SELECT priority, SUM(n) AS np FROM cell GROUP BY priority),
    md AS (SELECT dow, SUM(n) AS nd FROM cell GROUP BY dow),
    tot AS (SELECT SUM(n) AS t FROM cell)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(MAX(tot.t) AS BIGINT) AS n_orders,
           ROUND(SUM(POWER(cell.n - mp.np * 1.0 * md.nd / tot.t, 2)
                     / (mp.np * 1.0 * md.nd / tot.t)), 4) AS chi_sq,
           CAST((COUNT(DISTINCT cell.priority) - 1)
                * (COUNT(DISTINCT cell.dow) - 1) AS BIGINT) AS dof
    FROM cell
    JOIN mp ON mp.priority = cell.priority
    JOIN md ON md.dow = cell.dow
    CROSS JOIN tot
    """,
)
def q_order_priority_dow_chisq(spark, t):
    """Chi-square independence test of order priority vs day-of-week
    (portable Monday-epoch dow encoding) — a significant statistic
    means priority mix shifts across the week and staffing/SLA models
    must be day-aware (the orders twin of event_segment_chisq).

    Scale shape: one (priority, dow)-grain map-combined rollup (35
    cells), marginals and the statistic on the bounded cell frame
    with broadcast joins."""
    o = t["orders"].select(
        F.col("o_orderpriority").alias("priority"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-05").cast("date")
            )
            % 7
        ).alias("dow"),
    )
    cell = pin(o.groupBy("priority", "dow").agg(F.count(F.lit(1)).alias("n")))
    mp = cell.groupBy("priority").agg(F.sum("n").alias("np"))
    md = cell.groupBy("dow").agg(F.sum("n").alias("nd"))
    tot = cell.agg(F.sum("n").alias("t"))
    exp = F.col("np") * 1.0 * F.col("nd") / F.col("t")
    return (
        cell.join(F.broadcast(mp), "priority")
        .join(F.broadcast(md), "dow")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.max("t").cast("long").alias("n_orders"),
            F.round(
                F.sum(F.pow(F.col("n") - exp, 2) / exp), 4
            ).alias("chi_sq"),
            (
                (F.count_distinct("priority") - 1)
                * (F.count_distinct("dow") - 1)
            ).cast("long").alias("dof"),
        )
    )


_IVF_COST_LISTS = 16
_IVF_COST_MAXPROBE = 4


@query("emb_ivf_probe_cost_curve", oracle=None)  # attached below
def q_emb_ivf_probe_cost_curve(spark, t):
    """Cost half of the IVF tuning picture: candidate vectors SCANNED
    per query at each nprobe (the recall half is
    emb_ivf_nprobe_sweep) — together they give the recall-vs-cost
    frontier that picks the production probe count. Probe ranks and
    inverted-list sizes are computed once; every sweep point is a
    rank-threshold sum over the bounded (query × list) frame.

    Scale shape: the corpus assignment is the zero-shuffle map-side
    argmax over broadcast centroids (the emb_ivf_topk shape); list
    sizes are a 16-row rollup; everything after is query-set-grain."""
    from ..llmdata.similarity import (
        _as_double,
        dot,
        ivf_centroids,
        nearest_seed_cosine,
        norm,
    )

    emb = t["embeddings"]
    cents = ivf_centroids(emb, _IVF_COST_LISTS).withColumn(
        "n_cv", norm(F.col("cv"))
    )
    seeds = [
        (r["list_id"], r["cv"])
        for r in ivf_centroids(emb, _IVF_COST_LISTS).collect()
    ]
    corpus = ensure_parallelism(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            _as_double("embedding").alias("v"),
        )
    )
    inv_sizes = (
        corpus.withColumn(
            "__best", nearest_seed_cosine(F.col("v"), seeds, "list_id")
        )
        .groupBy(F.col("__best.list_id").alias("list_id"))
        .agg(F.count(F.lit(1)).alias("list_size"))
    )
    n_corpus = emb.count()
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        _as_double("embedding").alias("qv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__csim"), F.asc("list_id")
    )
    probe_rank = (
        q.withColumn("n_qv", norm(F.col("qv")))
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "__csim",
            dot(F.col("qv"), F.col("cv")) / (F.col("n_qv") * F.col("n_cv")),
        )
        .withColumn("pr", F.row_number().over(w))
        .select("query_id", "list_id", "pr")
    )
    sweep = spark.range(1, _IVF_COST_MAXPROBE + 1).select(
        F.col("id").cast("int").alias("nprobe")
    )
    joined = (
        probe_rank.join(F.broadcast(inv_sizes), "list_id")
        .crossJoin(F.broadcast(sweep))
        .filter(F.col("pr") <= F.col("nprobe"))
    )
    n_queries = q.count()
    return (
        joined.groupBy(F.col("nprobe").cast("long").alias("nprobe"))
        .agg(F.sum("list_size").cast("long").alias("total_candidates"))
        .select(
            "nprobe",
            "total_candidates",
            F.round(
                F.col("total_candidates") * 1.0 / n_queries, 4
            ).alias("avg_candidates_per_query"),
            F.round(
                F.col("total_candidates")
                * 100.0
                / (n_queries * n_corpus),
                4,
            ).alias("scan_share_pct"),
        )
        .orderBy("nprobe")
    )


ORACLES["emb_ivf_probe_cost_curve"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cents AS (
        SELECT vec_id AS list_id, v AS cv FROM e
        ORDER BY vec_id LIMIT {_IVF_COST_LISTS}
    ),
    corpus_rank AS (
        SELECT e.vec_id AS neighbor_id, c.list_id,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cv)
                            / (sqrt(list_dot_product(e.v, e.v))
                               * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                            c.list_id
               ) AS rn
        FROM e, cents c
    ),
    inv_sizes AS (
        SELECT list_id, COUNT(*) AS list_size
        FROM corpus_rank WHERE rn = 1 GROUP BY list_id
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    probe_rank AS (
        SELECT q.query_id, c.list_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_dot_product(q.qv, c.cv)
                            / (sqrt(list_dot_product(q.qv, q.qv))
                               * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                            c.list_id
               ) AS pr
        FROM q, cents c
    ),
    sweep AS (SELECT i AS nprobe FROM range(1, {_IVF_COST_MAXPROBE + 1}) t(i))
    SELECT CAST(s.nprobe AS BIGINT) AS nprobe,
           CAST(SUM(iz.list_size) AS BIGINT) AS total_candidates,
           ROUND(SUM(iz.list_size) * 1.0
                 / (SELECT COUNT(*) FROM q), 4)
               AS avg_candidates_per_query,
           ROUND(SUM(iz.list_size) * 100.0
                 / ((SELECT COUNT(*) FROM q)
                    * (SELECT COUNT(*) FROM e)), 4) AS scan_share_pct
    FROM probe_rank p
    JOIN inv_sizes iz ON iz.list_id = p.list_id
    JOIN sweep s ON p.pr <= s.nprobe
    GROUP BY s.nprobe
    ORDER BY nprobe
"""


@query("doc_quality_vs_dup_class", oracle=None)  # composed below
def q_doc_quality_vs_dup_class(spark, t):
    """Quality-by-boilerplate cross audit: bucket documents by their
    32-char-PREFIX duplication multiplicity (1 copy, 2, 3+ — the
    template-cluster key of doc_prefix_cluster_sizes) and report the
    quality-score distribution per bucket — if template-prefixed docs
    score LOWER, prefix dedup doubles as a quality filter; if they
    score the same, dedup budgets must stand on their own. A
    cross-family audit the dedup and quality families don't report
    alone. (Prefix grain, not full-text md5: the corpus has prefix
    clusters at every SF while full-text exact dups are rarer — the
    prefix key keeps the contract non-degenerate.)

    Scale shape: prefix-hash class counts shuffle hashes only; the
    quality frame joins back on doc_id; the rollup is a 3-row bucket
    frame."""
    cls = (
        ensure_parallelism(t["documents"])
        .filter(F.col("text").isNotNull() & (F.length("text") >= 32))
        .select("doc_id", F.md5(F.substring("text", 1, 32)).alias("h"))
    )
    mult = cls.groupBy("h").agg(F.count(F.lit(1)).alias("copies"))
    docs = cls.join(mult, "h").select(
        "doc_id",
        F.least(F.col("copies"), F.lit(3)).cast("long").alias("dup_class"),
    )
    scores = QUERIES["doc_quality_scores"](spark, t.sf_dir).select(
        "doc_id", "quality_score"
    )
    return (
        docs.join(scores, "doc_id")
        .groupBy("dup_class")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
            F.round(F.expr("percentile(quality_score, 0.5)"), 4).alias(
                "p50_quality"
            ),
        )
        .orderBy("dup_class")
    )


ORACLES["doc_quality_vs_dup_class"] = f"""
    WITH p AS (
        SELECT doc_id, md5(substr(text, 1, 32)) AS h
        FROM documents WHERE text IS NOT NULL AND length(text) >= 32
    ),
    mult AS (
        SELECT h, COUNT(*) AS copies FROM p GROUP BY h
    ),
    cls AS (
        SELECT p.doc_id, LEAST(m.copies, 3) AS dup_class
        FROM p JOIN mult m ON m.h = p.h
    ),
    scores AS (
        SELECT doc_id, quality_score
        FROM ({ORACLES["doc_quality_scores"]}) s
    )
    SELECT CAST(c.dup_class AS BIGINT) AS dup_class,
           COUNT(*) AS n_docs,
           ROUND(AVG(s.quality_score), 4) AS avg_quality,
           ROUND(percentile_cont(0.5)
                     WITHIN GROUP (ORDER BY s.quality_score), 4)
               AS p50_quality
    FROM cls c JOIN scores s ON s.doc_id = c.doc_id
    GROUP BY c.dup_class
    ORDER BY dup_class
"""
