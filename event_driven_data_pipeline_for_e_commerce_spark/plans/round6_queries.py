"""Round-6-staged corpus additions (registered in round 5, below the
round-5 driver window): embedding quality contracts built by
composing registered queries (1-NN label accuracy, PCA reconstruction
error), corpus roll-ups (perplexity by source, contamination by
split), and relational analytics (value-segment migration, backlog
aging, trade balance, SLA attainment).

Same parity rules as every round: integer cents / basis points /
micro-units, fixed-order float derivations, composed oracles embed
the registered oracle SQL verbatim so the contracts can never drift
from what the per-query correctness rows verify.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from .corpus import ORACLES, QUERIES, query


@query(
    "emb_label_knn_accuracy",
    oracle=None,  # composed below from the registered cosine-topk oracle
)
def q_emb_label_knn_accuracy(spark, t):
    """Embedding-quality contract: 1-nearest-neighbor label accuracy
    over the audited query set — 'do nearby vectors share labels', the
    classification sanity check that catches a broken encoder even
    when every ANN search is returning exactly what its index says.

    Scale shape: composes the registered brute-force cosine top-k
    (whose plan is audited by its own query); rank-1 extraction and
    the label joins run on the query-set grain (k rows per query)."""
    topk = QUERIES["emb_cosine_topk"](spark, t.sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    nn1 = (
        topk.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "neighbor_id")
    )
    labels = t["embeddings"].select("vec_id", "label")
    ql = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "q_label"
    )
    nl = labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
        "label", "n_label"
    )
    scored = nn1.join(ql, "query_id").join(nl, "neighbor_id")
    return scored.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.count_if(F.col("q_label") == F.col("n_label")).alias("n_correct"),
        F.expr(
            "CAST(count_if(q_label = n_label) * 10000 DIV COUNT(*) AS BIGINT)"
        ).alias("accuracy_bp"),
    )


ORACLES["emb_label_knn_accuracy"] = f"""
    WITH topk AS ({ORACLES["emb_cosine_topk"]}),
    nn1 AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id) AS rn
              FROM topk)
        WHERE rn = 1
    )
    SELECT COUNT(*) AS n_queries,
           COUNT(*) FILTER (WHERE q.label = n.label) AS n_correct,
           CAST(COUNT(*) FILTER (WHERE q.label = n.label) * 10000
                // COUNT(*) AS BIGINT) AS accuracy_bp
    FROM nn1
    JOIN embeddings q ON q.vec_id = nn1.query_id
    JOIN embeddings n ON n.vec_id = nn1.neighbor_id
    """


@query(
    "doc_perplexity_by_source",
    oracle=None,  # composed below from the registered bigram-LM oracle
)
def q_doc_perplexity_by_source(spark, t):
    """Language-model fluency roll-up: per-source average bigram
    neg-log2 probability (the perplexity exponent) — which sources
    read like the corpus and which are noise, the data-mixing signal
    on top of the registered self-trained LM scorer.

    Parity: each doc's score is rounded by the base query; the rollup
    scales it to integer e4 micro-bits per doc BEFORE the BIGINT sum,
    so source aggregates have no float merge-order sensitivity."""
    scored = QUERIES["doc_bigram_lm_score"](spark, t.sf_dir)
    src = t["documents"].select("doc_id", "source")
    return (
        scored.join(src, "doc_id")
        .select(
            "source",
            "n_bigrams",
            F.round(F.col("avg_neg_log2_prob") * 10000)
            .cast("long")
            .alias("e4"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("n_bigrams"),
            F.expr("CAST(SUM(e4) DIV COUNT(*) AS BIGINT)").alias(
                "avg_doc_nll_e4"
            ),
        )
    )


ORACLES["doc_perplexity_by_source"] = f"""
    WITH scored AS ({ORACLES["doc_bigram_lm_score"]})
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(s.n_bigrams) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(ROUND(s.avg_neg_log2_prob * 10000) AS BIGINT))
                // COUNT(*) AS BIGINT) AS avg_doc_nll_e4
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    GROUP BY d.source
    """


@query(
    "doc_contamination_by_split",
    oracle=None,  # composed below from split + contamination oracles
)
def q_doc_contamination_by_split(spark, t):
    """Train/eval hygiene capstone: contamination rate per split —
    composes the registered deterministic splitter with the registered
    eval-overlap detector to answer the question that actually matters
    ('how much of TRAIN leaks eval text'), not just which docs overlap.

    Scale shape: both inputs are registered audited queries; the
    composition is a broadcast-sized join (contaminated docs) plus one
    groupBy on the split grain."""
    split = QUERIES["doc_train_split"](spark, t.sf_dir)
    contaminated = (
        QUERIES["doc_contamination_overlap"](spark, t.sf_dir)
        .select("doc_id")
        .withColumn("is_contaminated", F.lit(1))
    )
    return (
        split.join(contaminated, "doc_id", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("is_contaminated"), F.lit(0))).alias(
                "n_contaminated"
            ),
        )
        .withColumn(
            "contamination_bp",
            F.expr("n_contaminated * 10000 DIV n_docs"),
        )
    )


ORACLES["doc_contamination_by_split"] = f"""
    WITH split AS ({ORACLES["doc_train_split"]}),
    cont AS (SELECT doc_id FROM ({ORACLES["doc_contamination_overlap"]}) c)
    SELECT s.split,
           COUNT(*) AS n_docs,
           CAST(COUNT(c.doc_id) AS BIGINT) AS n_contaminated,
           CAST(COUNT(c.doc_id) * 10000 // COUNT(*) AS BIGINT)
               AS contamination_bp
    FROM split s LEFT JOIN cont c ON c.doc_id = s.doc_id
    GROUP BY s.split
    """


@query(
    "customer_value_migration",
    oracle="""
    WITH bounds AS (
        SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
               CAST(MAX(o_orderdate) AS DATE) AS d1
        FROM orders
    ),
    spend AS (
        SELECT o.o_custkey AS custkey,
               CASE WHEN CAST(o.o_orderdate AS DATE)
                        < b.d0 + CAST(FLOOR(CAST(b.d1 - b.d0 AS BIGINT) / 2.0) AS INTEGER)
                    THEN 'h1' ELSE 'h2' END AS half,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o, bounds b
        GROUP BY 1, 2
    ),
    q AS (
        SELECT custkey, half,
               NTILE(4) OVER (PARTITION BY half
                              ORDER BY cents, custkey) AS tier
        FROM spend
    ),
    h1 AS (SELECT custkey, tier FROM q WHERE half = 'h1'),
    h2 AS (SELECT custkey, tier FROM q WHERE half = 'h2')
    SELECT h1.tier AS tier_h1, h2.tier AS tier_h2,
           COUNT(*) AS n_customers
    FROM h1 JOIN h2 ON h2.custkey = h1.custkey
    GROUP BY 1, 2
    """,
)
def q_customer_value_migration(spark, t):
    """Value-tier migration matrix: each customer's spend quartile in
    the first half of the order history vs the second — the retention
    question behind RFM ('are my top customers staying on top'),
    reduced to a 4×4 transition matrix.

    Scale shape: two bounded scalar date aggregates, one groupBy to
    the (customer, half) grain, NTILE windows PARTITIONED by half
    with total-order tie-breaks, and a customer-grain self-join."""
    b = t["orders"].agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    ).collect()[0]
    mid_offset = (b["d1"] - b["d0"]).days // 2
    half = F.when(
        F.to_date("o_orderdate")
        < F.date_add(F.lit(b["d0"]), mid_offset),
        "h1",
    ).otherwise("h2")
    spend = (
        t["orders"]
        .groupBy(F.col("o_custkey").alias("custkey"), half.alias("half"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    w = Window.partitionBy("half").orderBy("cents", "custkey")
    q = spend.withColumn("tier", F.ntile(4).over(w))
    h1 = q.filter(F.col("half") == "h1").select(
        "custkey", F.col("tier").alias("tier_h1")
    )
    h2 = q.filter(F.col("half") == "h2").select(
        "custkey", F.col("tier").alias("tier_h2")
    )
    return (
        h1.join(h2, "custkey")
        .groupBy("tier_h1", "tier_h2")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "orders_backlog_aging",
    oracle="""
    WITH asof_d AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS d FROM orders),
    open_orders AS (
        SELECT o.o_orderpriority AS priority,
               CAST(a.d - CAST(o.o_orderdate AS DATE) AS BIGINT) AS age_days,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o, asof_d a
        WHERE o.o_orderstatus = 'O'
    )
    SELECT priority,
           CASE WHEN age_days < 180 THEN '0-179'
                WHEN age_days < 720 THEN '180-719'
                ELSE '720+' END AS age_bucket,
           COUNT(*) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM open_orders
    GROUP BY 1, 2
    """,
)
def q_orders_backlog_aging(spark, t):
    """Open-order backlog aging: unshipped ('O') orders bucketed by
    age as of the newest order date, by priority — the fulfillment
    debt report (old high-priority backlog is the fire).

    Scale shape: scalar as-of date broadcast, map-side bucketing, one
    groupBy to the priority × bucket grain."""
    asof = t["orders"].agg(
        F.max(F.to_date("o_orderdate")).alias("d")
    ).collect()[0]["d"]
    age = F.datediff(F.lit(asof), F.to_date("o_orderdate")).cast("long")
    bucket = (
        F.when(F.col("age_days") < 180, "0-179")
        .when(F.col("age_days") < 720, "180-719")
        .otherwise("720+")
    )
    return (
        t["orders"]
        .filter(F.col("o_orderstatus") == "O")
        .select(
            F.col("o_orderpriority").alias("priority"),
            age.alias("age_days"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("priority", bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cents"),
        )
    )


@query(
    "nation_trade_balance",
    oracle="""
    WITH buy AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)) AS BIGINT)
                   AS buy_cents
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    ),
    sell AS (
        SELECT s.s_nationkey AS nationkey,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                   * 100) AS BIGINT)) AS BIGINT)
                   AS sell_cents
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY 1
    )
    SELECT n.n_nationkey AS nationkey, n.n_name,
           COALESCE(b.buy_cents, 0) AS buy_cents,
           COALESCE(s.sell_cents, 0) AS sell_cents,
           COALESCE(s.sell_cents, 0) - COALESCE(b.buy_cents, 0)
               AS balance_cents
    FROM nation n
    LEFT JOIN buy b ON b.nationkey = n.n_nationkey
    LEFT JOIN sell s ON s.nationkey = n.n_nationkey
    """,
)
def q_nation_trade_balance(spark, t):
    """Per-nation trade balance: revenue supplied (its suppliers'
    lines) minus revenue consumed (its customers' orders) — the
    two-sided dimension rollup TPC-H Q5 hints at but never totals;
    exporters vs importers at a glance. Exact discounted cents.

    Scale shape: two independent fact aggregations (each fact ⋈
    broadcast dim), then a 25-row nation-grain assembly with
    left-join zero-fill."""
    net_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    buy = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(t["customer"]),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.sum(net_cents).alias("buy_cents"))
    )
    sell = (
        t["lineitem"]
        .join(
            F.broadcast(t["supplier"]),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.sum(net_cents).alias("sell_cents"))
    )
    n = t["nation"].select(
        F.col("n_nationkey").alias("nationkey"), "n_name"
    )
    return (
        n.join(buy, "nationkey", "left")
        .join(sell, "nationkey", "left")
        .select(
            "nationkey",
            "n_name",
            F.coalesce("buy_cents", F.lit(0)).alias("buy_cents"),
            F.coalesce("sell_cents", F.lit(0)).alias("sell_cents"),
            (
                F.coalesce("sell_cents", F.lit(0))
                - F.coalesce("buy_cents", F.lit(0))
            ).alias("balance_cents"),
        )
    )


SLA_DAYS = 30


@query(
    "order_priority_sla_attainment",
    oracle=f"""
    WITH firstship AS (
        SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS first_ship
        FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (
               WHERE f.first_ship
                     < CAST(o.o_orderdate AS DATE) + {SLA_DAYS}
           ) AS n_within_sla,
           CAST(FLOOR(COUNT(*) FILTER (
                    WHERE f.first_ship
                          < CAST(o.o_orderdate AS DATE) + {SLA_DAYS}
                ) * 10000 / COUNT(*)) AS BIGINT) AS attainment_bp
    FROM orders o JOIN firstship f ON f.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q_order_priority_sla_attainment(spark, t):
    """SLA attainment: share of orders whose FIRST line ships within
    {SLA_DAYS} days, per priority — the promise-keeping KPI behind the
    late_shipments filter (that query lists the misses; this scores
    the book). Integer basis points.

    Scale shape: one fact pre-aggregate to order grain (MIN shipdate),
    equi-join back to orders, groupBy to the 5-row priority grain."""
    firstship = t["lineitem"].groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    within = F.col("first_ship") < F.date_add(
        F.to_date("o_orderdate"), SLA_DAYS
    )
    return (
        t["orders"]
        .join(firstship, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(within).alias("n_within_sla"),
        )
        .withColumn(
            "attainment_bp",
            F.expr("n_within_sla * 10000 DIV n_orders"),
        )
    )


@query(
    "emb_pca_reconstruction_error",
    oracle=None,  # composed below from the top-PC oracle's CTE chain
)
def q_emb_pca_reconstruction_error(spark, t):
    """Rank-1 PCA reconstruction error: how much corpus variance the
    top principal component explains — the dimensionality-reduction
    go/no-go metric on top of the registered power-iteration query
    (a high explained share licenses aggressive projection before
    clustering/dedup; a low one says the embedding space is
    genuinely high-rank).

    Parity: the component is derived by the same three power
    iterations as the base query (same fold order, full precision);
    per-vector total and residual energies are scaled to integer e4
    units BEFORE the BIGINT sums, so the corpus aggregates carry no
    float merge-order sensitivity.

    Scale shape: the MLlib pattern again — 64 means + 64-float
    component on the driver, every corpus pass map-side folds plus a
    64-cell treeAggregate-style rollup; the final contract is one
    distributed pass emitting 3 integers."""
    import math

    from .round3b_queries import PCA_ITERS
    from ..operators.partitioning import ensure_parallelism
    from ..operators.pinning import pin

    emb = ensure_parallelism(t["embeddings"]).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    mean_rows = (
        emb.select(F.posexplode("e").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.avg("val").alias("mu"))
        .collect()
    )
    mu = [r.mu for r in sorted(mean_rows, key=lambda r: r.pos)]
    dims = len(mu)
    cent = pin(
        emb.select(
            "vec_id",
            F.zip_with(
                "e", F.array(*[F.lit(m) for m in mu]), lambda x, m: x - m
            ).alias("c"),
        )
    )
    v = [1.0 / math.sqrt(dims)] * dims
    for _ in range(PCA_ITERS):
        v_lit = F.array(*[F.lit(x) for x in v])
        dot = F.aggregate(
            F.zip_with("c", v_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        w_rows = (
            cent.select(dot.alias("dot"), F.posexplode("c").alias("pos", "val"))
            .groupBy("pos")
            .agg(F.sum(F.col("dot") * F.col("val")).alias("w"))
            .collect()
        )
        w = [r.w for r in sorted(w_rows, key=lambda r: r.pos)]
        nrm = math.sqrt(sum(x * x for x in w))
        v = [x / nrm for x in w]
    v_lit = F.array(*[F.lit(x) for x in v])
    proj = F.aggregate(
        F.zip_with("c", v_lit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ss = F.aggregate(
        F.transform("c", lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pervec = cent.select(
        F.round(ss * 10000).cast("long").alias("ss_e4"),
        F.round((ss - proj * proj) * 10000).cast("long").alias("resid_e4"),
    )
    return pervec.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("ss_e4").alias("ss_total_e4"),
        F.sum("resid_e4").alias("resid_total_e4"),
    ).withColumn(
        "explained_bp",
        F.expr("(ss_total_e4 - resid_total_e4) * 10000 DIV ss_total_e4"),
    )


def _pca_recon_oracle() -> str:
    """Reuses the registered top-PC oracle's CTE chain (everything up
    to its final SELECT) so the component derivation can never drift
    from what emb_top_principal_component's correctness row verifies,
    then adds the residual-energy contract on top."""
    base = ORACLES["emb_top_principal_component"]
    cut = base.index("SELECT v.dim, ROUND")
    ctes = base[:cut].rstrip().rstrip(")") + ")"
    # `ctes` now ends at the close of the v4 CTE
    return f"""{ctes},
    proj AS (
        SELECT c.vec_id, SUM(c.val * v.v) AS p
        FROM cell c JOIN v4 v USING (dim) GROUP BY c.vec_id
    ),
    tot AS (
        SELECT vec_id, SUM(val * val) AS ss FROM cell GROUP BY vec_id
    ),
    pervec AS (
        SELECT CAST(ROUND(t.ss * 10000) AS BIGINT) AS ss_e4,
               CAST(ROUND((t.ss - p.p * p.p) * 10000) AS BIGINT) AS resid_e4
        FROM tot t JOIN proj p USING (vec_id)
    )
    SELECT COUNT(*) AS n_vecs,
           CAST(SUM(ss_e4) AS BIGINT) AS ss_total_e4,
           CAST(SUM(resid_e4) AS BIGINT) AS resid_total_e4,
           CAST((SUM(ss_e4) - SUM(resid_e4)) * 10000 // SUM(ss_e4)
                AS BIGINT) AS explained_bp
    FROM pervec
    """


ORACLES["emb_pca_reconstruction_error"] = _pca_recon_oracle()
