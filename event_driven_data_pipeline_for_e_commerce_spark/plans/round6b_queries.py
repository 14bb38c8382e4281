"""Round-6-staged corpus additions, part 2 (registered in round 5,
below the round-5 driver window): order-shape analytics (lines per
order), training-data curation (quality-ranked token-budget curve,
per-source hapax rate), concentration analysis (supplier revenue
Lorenz deciles over the scalable ranged row-number), and embedding
calibration (per-dimension quantile clip bounds for int8 ranges).

Same parity rules as every round: money in integer cents, shares in
integer basis points, `DIV`/`//` integral division on both engines,
composed oracles embed the registered oracle SQL verbatim, 4-decimal
rounding on float outputs.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from event_driven_data_pipeline_for_e_commerce_spark.llmdata.text import tokens_col
from event_driven_data_pipeline_for_e_commerce_spark.operators.cumulative import (
    row_number_ranged,
    running_sum_ranged,
)
from event_driven_data_pipeline_for_e_commerce_spark.operators.partitioning import (
    ensure_parallelism,
)

from .corpus import ORACLES, QUERIES, query


@query(
    "order_linecount_histogram",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey, COUNT(*) AS n_lines
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT n_lines,
           COUNT(*) AS n_orders,
           CAST(SUM(n_lines) AS BIGINT) AS n_lineitems
    FROM per_order GROUP BY n_lines
    """,
)
def q_order_linecount_histogram(spark, t):
    """Order-shape histogram: how many orders have 1, 2, ... line
    items — the fulfilment-complexity profile (complements
    q13_order_count_distribution, which histograms orders per
    customer). Two hash aggregations, both with map-side partials;
    the second groups on the tiny line-count domain."""
    per_order = (
        ensure_parallelism(t["lineitem"])
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    return per_order.groupBy("n_lines").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("n_lines").alias("n_lineitems"),
    )


_TOKEN_BUDGETS = (10_000, 50_000, 100_000, 500_000, 1_000_000)


@query(
    "doc_token_budget_curve",
    oracle=None,  # composed below from the registered quality-score oracle
)
def q_doc_token_budget_curve(spark, t):
    """Training-data curation curve: rank documents by quality score
    (best first), accumulate token counts in rank order, and report
    how many documents — and exactly how many tokens — fit under each
    candidate token budget. The planning query behind 'we can afford
    an N-token pretraining mix; how deep into the quality ranking does
    that reach?'.

    Scale shape: the global quality ordering runs through
    ``running_sum_ranged`` (range-repartition + per-partition bases),
    NOT a single-task ``SUM OVER (ORDER BY ...)`` window; the budget
    fan-out is a broadcast cross join against a 5-row literal frame
    followed by one tiny-domain aggregation."""
    scored = QUERIES["doc_quality_scores"](spark, t.sf_dir)
    order_exprs = [F.col("quality_score").desc(), F.col("doc_id").asc()]
    cum = running_sum_ranged(scored, order_exprs, "n_tokens", "cum_tokens")
    budgets = spark.createDataFrame(
        [(b,) for b in _TOKEN_BUDGETS], "budget long"
    )
    fits = F.col("cum_tokens") <= F.col("budget")
    return (
        cum.crossJoin(F.broadcast(budgets))
        .groupBy("budget")
        .agg(
            F.count_if(fits).alias("n_docs"),
            F.coalesce(F.max(F.when(fits, F.col("cum_tokens"))), F.lit(0))
            .cast("long")
            .alias("tokens_used"),
        )
    )


ORACLES["doc_token_budget_curve"] = f"""
    WITH q AS ({ORACLES["doc_quality_scores"]}),
    ranked AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY quality_score DESC, doc_id) AS BIGINT)
                   AS cum_tokens
        FROM q
    ),
    budgets(budget) AS (
        VALUES (10000), (50000), (100000), (500000), (1000000)
    )
    SELECT CAST(budget AS BIGINT) AS budget,
           COUNT(*) FILTER (WHERE cum_tokens <= budget) AS n_docs,
           CAST(COALESCE(MAX(cum_tokens) FILTER (WHERE cum_tokens <= budget),
                         0) AS BIGINT) AS tokens_used
    FROM ranked CROSS JOIN budgets
    GROUP BY budget
    """


@query(
    "doc_hapax_rate",
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
           COUNT(*) AS vocab_size,
           COUNT(*) FILTER (WHERE cnt = 1) AS hapax_cnt,
           CAST(COUNT(*) FILTER (WHERE cnt = 1) * 10000
                // COUNT(*) AS BIGINT) AS hapax_bp
    FROM tf GROUP BY source
    """,
)
def q_doc_hapax_rate(spark, t):
    """Vocabulary-richness signal: per source, the share of its
    vocabulary that occurs exactly once (hapax legomena). High hapax
    share flags noisy / OCR-damaged / high-entropy sources before
    they bloat a tokenizer's vocab; low share flags templated text.
    Complements doc_vocab_growth_by_source (growth over doc order)
    with a point-in-time richness ratio.

    Scale shape: explode → (source, token) hash aggregate with
    map-side partials, then a second aggregate on the source domain;
    the token text shuffles once, counts only after that."""
    tok = ensure_parallelism(t["documents"]).select(
        "source", F.explode(tokens_col("text")).alias("token")
    )
    tf = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cnt"))
    return tf.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.count_if(F.col("cnt") == 1).alias("hapax_cnt"),
        F.expr(
            "CAST(count_if(cnt = 1) * 10000 DIV COUNT(*) AS BIGINT)"
        ).alias("hapax_bp"),
    )


@query(
    "supplier_revenue_lorenz",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY l_suppkey
    ),
    ranked AS (
        SELECT rev_cents,
               ROW_NUMBER() OVER (ORDER BY rev_cents, l_suppkey) AS rn,
               COUNT(*) OVER () AS n
        FROM rev
    )
    SELECT CAST(FLOOR(((rn - 1) * 10) / n) AS BIGINT) AS decile,
           COUNT(*) AS n_suppliers,
           CAST(SUM(rev_cents) AS BIGINT) AS revenue_cents
    FROM ranked GROUP BY decile
    """,
)
def q_supplier_revenue_lorenz(spark, t):
    """Revenue-concentration Lorenz deciles: suppliers sorted by
    discounted revenue, split into ten equal-count bands, revenue per
    band — the distributional view behind part_revenue_gini's single
    coefficient ('the top decile books X% of revenue').

    Scale shape: the global rank comes from ``row_number_ranged``
    (range repartition + per-partition count bases — no single-task
    window); the supplier count is one sanctioned scalar collect; the
    decile aggregate groups on a 10-value domain."""
    rev = (
        ensure_parallelism(t["lineitem"])
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("rev_cents")
        )
    )
    ranked = row_number_ranged(
        rev, [F.col("rev_cents").asc(), F.col("l_suppkey").asc()], "rn"
    )
    n = ranked.count()  # sanctioned scalar: one number for the decile math
    return (
        ranked.withColumn(
            "decile", F.expr(f"CAST(((rn - 1) * 10) DIV {n} AS BIGINT)")
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("rev_cents").alias("revenue_cents"),
        )
    )


@query(
    "emb_quantile_clip_bounds",
    oracle="""
    WITH v AS (
        SELECT i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS val
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS i(i)
    )
    SELECT dim,
           ROUND(percentile_cont(0.01) WITHIN GROUP (ORDER BY val), 4) AS p01,
           ROUND(percentile_cont(0.50) WITHIN GROUP (ORDER BY val), 4) AS p50,
           ROUND(percentile_cont(0.99) WITHIN GROUP (ORDER BY val), 4) AS p99,
           ROUND(percentile_cont(0.99) WITHIN GROUP (ORDER BY val) - percentile_cont(0.01) WITHIN GROUP (ORDER BY val), 4)
               AS clip_range
    FROM v GROUP BY dim
    """,
)
def q_emb_quantile_clip_bounds(spark, t):
    """Quantization calibration: per-dimension p1/p50/p99 — the
    clip bounds an int8 quantizer should use instead of min/max
    (emb_dim_stats) when outliers would waste the integer range.
    Spark's exact `percentile` and DuckDB's `quantile_cont` share
    linear interpolation, so the contract is exact to the 4-decimal
    rounding.

    Scale shape: posexplode fans vectors into (dim, value); the
    exact percentile groups on the 64-dimension domain. Exact
    quantiles buffer each dim's values in its reducer — fine for a
    64-key domain; a corpus-sized key domain would switch to
    approx_percentile."""
    v = ensure_parallelism(t["embeddings"]).select(
        F.posexplode("embedding").alias("pos", "val")
    )
    return (
        v.select(
            (F.col("pos") + 1).alias("dim"),
            F.col("val").cast("double").alias("val"),
        )
        .groupBy("dim")
        .agg(
            F.round(F.expr("percentile(val, 0.01)"), 4).alias("p01"),
            F.round(F.expr("percentile(val, 0.50)"), 4).alias("p50"),
            F.round(F.expr("percentile(val, 0.99)"), 4).alias("p99"),
            F.round(
                F.expr("percentile(val, 0.99) - percentile(val, 0.01)"), 4
            ).alias("clip_range"),
        )
    )
