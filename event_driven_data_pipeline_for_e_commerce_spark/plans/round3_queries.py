"""Round-3 corpus additions: corpus-statistics / retrieval / anomaly
operators a production training-data pipeline runs alongside dedup —
PMI collocation mining, the end-to-end dedup survivor materialization,
length percentiles, inverted-index keyword search, embedding dimension
QA, event-volume anomaly detection, purchase-cadence analysis, and a
lead-time trend regression.

Every query is oracle-paired (ANSI SQL for DuckDB) and keeps the
100 TB shape rules: map-side token work, broadcast for vocabulary- or
dimension-sized frames, single-pass moment aggregates, windows only
over post-aggregation (small) or per-key partitions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..operators.partitioning import ensure_parallelism
from .corpus import query
from .llm_queries import _MINHASH_CTES, JACCARD_THRESHOLD, NUM_HASHES, ROWS_PER_BAND, SHINGLE_N

# Collocation mining config: pairs rarer than this are noise at any
# corpus size (and the absolute floor keeps output cardinality bounded
# by the number of genuinely frequent pairs, not corpus size).
PMI_MIN_COUNT = 30
SEARCH_TERMS = ("join", "vector", "stream")


@query(
    "doc_pmi_collocations",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents
    ),
    uni AS (
        SELECT t.tok, COUNT(*) AS c
        FROM toks, UNNEST(w) AS t(tok)
        GROUP BY t.tok
    ),
    n_uni AS (SELECT SUM(c) AS n FROM uni),
    bi AS (
        SELECT w[i] AS tok_a, w[i + 1] AS tok_b, COUNT(*) AS c_ab
        FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
        WHERE len(w) >= 2
        GROUP BY 1, 2
    ),
    n_bi AS (SELECT SUM(c_ab) AS n FROM bi)
    SELECT b.tok_a, b.tok_b, b.c_ab AS pair_count,
           ROUND(log2((b.c_ab * 1.0 / (SELECT n FROM n_bi))
                      / ((ua.c * 1.0 / (SELECT n FROM n_uni))
                         * (ub.c * 1.0 / (SELECT n FROM n_uni)))), 4) AS pmi
    FROM bi b
    JOIN uni ua ON ua.tok = b.tok_a
    JOIN uni ub ON ub.tok = b.tok_b
    WHERE b.c_ab >= {PMI_MIN_COUNT}
    """,
)
def q_doc_pmi_collocations(spark, t):
    """Pointwise-mutual-information collocation mining over adjacent
    token pairs — the corpus-statistics pass that finds multiword
    expressions worth tokenizing as units.

    Scale shape: bigrams unfold MAP-SIDE from the token array (one
    zip_with of two offset slices, no positional explode+self-join),
    unigram and bigram counts are two map-combined groupBys, and the
    PMI join attaches the vocabulary-sized unigram table twice —
    broadcast by AQE (a vocabulary is millions of rows at web scale;
    the corpus-sized token stream is never joined). The absolute
    min-count floor bounds output to the genuinely frequent pairs."""
    docs = ensure_parallelism(t["documents"])
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.struct(a.alias("tok_a"), b.alias("tok_b")),
        ),
    ).otherwise(F.array().cast("array<struct<tok_a:string,tok_b:string>>"))
    uni = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        docs.select(F.explode(bigrams).alias("p"))
        .groupBy(F.col("p.tok_a").alias("tok_a"), F.col("p.tok_b").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_COUNT)
    )
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    n_bi_all = (
        docs.select((F.size(toks) - 1).alias("k"))
        .filter(F.col("k") >= 1)
        .agg(F.sum("k").alias("n_bi"))
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    pmi = F.log2(
        (F.col("c_ab") / F.col("n_bi"))
        / ((F.col("c_a") / F.col("n_uni")) * (F.col("c_b") / F.col("n_uni")))
    )
    return (
        bi.join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi_all))
        .select(
            "tok_a",
            "tok_b",
            F.col("c_ab").alias("pair_count"),
            F.round(pmi, 4).alias("pmi"),
        )
    )


@query(
    "doc_dedup_survivors",
    oracle=rf"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.n_common * 1.0 / (sa.n + sb.n - i.n_common)
              >= {JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    ),
    clusters AS (
        SELECT node AS doc_id, MIN(label) AS cluster_id
        FROM reach GROUP BY node
    ),
    csize AS (
        SELECT cluster_id, COUNT(*) AS cluster_size
        FROM clusters GROUP BY cluster_id
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars, s.cluster_size
    FROM clusters c
    JOIN csize s ON s.cluster_id = c.cluster_id
    JOIN documents d ON d.doc_id = c.doc_id
    WHERE c.doc_id = c.cluster_id
    """,
)
def q_doc_dedup_survivors(spark, t):
    """The END of the dedup pipeline: the retained training corpus.
    Near-dup pairs (MinHash-LSH) → connected-component clusters → keep
    each cluster's canonical document, annotated with how many
    documents it absorbed. Exact duplicates collapse implicitly: at
    Jaccard 1.0 they always pair, so an identical-text class lands in
    one cluster and its min-id keeper survives.

    Scale: pair generation and clustering are the audited bucketed /
    O(log d)-round shapes (llmdata/dedup.py); the final join touches
    the corpus ONCE to attach metadata to canonical ids (AQE
    broadcasts the cluster-size frame, which has one row per cluster).
    """
    from ..llmdata.dedup import duplicate_clusters, minhash_near_duplicates

    docs = ensure_parallelism(t["documents"])
    pairs = minhash_near_duplicates(
        docs, "text", "doc_id",
        n=SHINGLE_N, num_hashes=NUM_HASHES,
        rows_per_band=ROWS_PER_BAND, threshold=JACCARD_THRESHOLD,
    )
    clusters = duplicate_clusters(pairs, docs.select("doc_id"))
    csize = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        clusters.filter(F.col("is_canonical"))
        .join(csize, "cluster_id")
        .join(docs.select("doc_id", "lang", "source", "n_chars"), "doc_id")
        .select("doc_id", "lang", "source", "n_chars", "cluster_size")
    )


@query(
    "doc_length_percentiles",
    oracle=r"""
    WITH n AS (
        SELECT lang,
               length(trim(text)) - length(replace(trim(text), ' ', ''))
                   + 1 AS n_tokens
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY n_tokens), 4) AS p50,
           ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY n_tokens), 4) AS p90,
           ROUND(percentile_cont(0.99) WITHIN GROUP (ORDER BY n_tokens), 4) AS p99,
           MAX(n_tokens) AS max_tokens
    FROM n GROUP BY lang
    """,
)
def q_doc_length_percentiles(spark, t):
    """Exact interpolated token-length percentiles per language — the
    length-distribution QA pass that sets truncation budgets before
    training. Token counts are a map-side projection; `percentile`
    computes all three quantiles in ONE aggregation pass per group
    (shuffle keyed by language, partial-aggregated map-side)."""
    # space-delimited token contract (tokens = spaces + 1) — the same
    # pure string arithmetic the oracle uses, replacing the former
    # \s+ regex split (round 7: regex-split has no two-engine SQL
    # form; the corpus text is single-space delimited so the count is
    # identical, verified in DuckDB at sf0.01 and sf0.1)
    st = F.trim(F.col("text"))
    n_tokens = F.length(st) - F.length(F.replace(st, F.lit(" "))) + 1
    pct = F.expr("percentile(n_tokens, array(0.5, 0.9, 0.99))")
    return (
        ensure_parallelism(t["documents"])
        .select("lang", n_tokens.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(pct[0], 4).alias("p50"),
            F.round(pct[1], 4).alias("p90"),
            F.round(pct[2], 4).alias("p99"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


@query(
    "doc_keyword_search",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, t.tok
        FROM documents,
             UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS t(tok)
        WHERE t.tok IN {SEARCH_TERMS!r}
    ),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM tok GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(tf.tf) AS BIGINT) AS n_hits,
           -- fixed-order per-term addition (emb_pq_topk determinism
           -- lesson): float SUM() merge order varies run to run
           ROUND(COALESCE(MAX(CASE WHEN tf.tok = 'join' THEN tf.tf * ln((SELECT n_docs FROM n) * 1.0 / df.df) END), 0)
               + COALESCE(MAX(CASE WHEN tf.tok = 'vector' THEN tf.tf * ln((SELECT n_docs FROM n) * 1.0 / df.df) END), 0)
               + COALESCE(MAX(CASE WHEN tf.tok = 'stream' THEN tf.tf * ln((SELECT n_docs FROM n) * 1.0 / df.df) END), 0), 4) AS score
    FROM tf JOIN df ON df.tok = tf.tok
    GROUP BY tf.doc_id
    """,
)
def q_doc_keyword_search(spark, t):
    """Inverted-index keyword retrieval: score every document matching
    an OR-query by TF-IDF (tf × ln(N/df) summed over matched terms) —
    the text sibling of the embedding top-k searches.

    Scale: the term filter is pushed into the map-side token unfold
    (only query-term postings survive — the classic inverted-index
    slice), df is a terms-sized frame attached by broadcast, and N is
    a 1-row broadcast. The corpus-sized token stream is never joined
    or shuffled beyond the per-(doc, term) count."""
    docs = ensure_parallelism(t["documents"])
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.col("tok").isin(*SEARCH_TERMS))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tok.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(F.broadcast(df_t), "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("tf").alias("n_hits"),
            # fixed-order per-term addition (emb_pq_topk determinism
            # lesson); SEARCH_TERMS order mirrors the oracle
            F.round(
                sum(
                    (
                        F.coalesce(
                            F.max(
                                F.when(
                                    F.col("tok") == term,
                                    F.col("tf")
                                    * F.log(F.col("n_docs") / F.col("df")),
                                )
                            ),
                            F.lit(0.0),
                        )
                        for term in SEARCH_TERMS
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("score"),
        )
    )


@query(
    "emb_dim_stats",
    oracle="""
    WITH v AS (
        SELECT i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS val
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS i(i)
    )
    SELECT dim,
           COUNT(*) AS n,
           ROUND(AVG(val), 4) AS mean_val,
           ROUND(stddev_samp(val), 4) AS std_val,
           ROUND(MIN(val), 4) AS min_val,
           ROUND(MAX(val), 4) AS max_val
    FROM v GROUP BY dim
    """,
)
def q_emb_dim_stats(spark, t):
    """Per-dimension embedding statistics (mean/std/min/max) — the QA
    pass that catches dead or exploding dimensions before they poison
    an ANN index. posexplode fans each vector into (dim, value) rows;
    the aggregate is one shuffle keyed by the (tiny) dimension count
    with map-side partial moments — each map task reduces its vectors
    to 64 partial rows, so the shuffle is executors × dims, not
    corpus-sized."""
    v = ensure_parallelism(t["embeddings"]).select(
        F.posexplode("embedding").alias("pos", "val")
    )
    return (
        v.select((F.col("pos") + 1).alias("dim"), F.col("val").cast("double").alias("val"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("val"), 4).alias("mean_val"),
            F.round(F.stddev_samp("val"), 4).alias("std_val"),
            F.round(F.min("val"), 4).alias("min_val"),
            F.round(F.max("val"), 4).alias("max_val"),
        )
    )


@query(
    "event_volume_anomalies",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    scored AS (
        SELECT day, event_type, cnt,
               ROUND((cnt - AVG(cnt) OVER (PARTITION BY event_type))
                     / NULLIF(stddev_samp(cnt) OVER (PARTITION BY event_type), 0),
                     4) AS z
        FROM daily
    )
    SELECT day, event_type, cnt, z
    FROM scored WHERE ABS(z) >= 2
    """,
)
def q_event_volume_anomalies(spark, t):
    """Daily event-volume anomaly detection: days whose count deviates
    ≥ 2 sample standard deviations from that event type's mean — the
    ops alert that catches tracking outages and bot floods.

    The corpus-sized scan reduces FIRST (one map-combined groupBy to
    days × types rows); the z-score window then runs over that tiny
    aggregate, partitioned by type — a window over post-aggregation
    data, never over raw events. Thresholding on the ROUNDED z keeps
    the cross-engine boundary deterministic."""
    daily = (
        t["events"]
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type")
    z = F.round(
        (F.col("cnt") - F.avg("cnt").over(w))
        / F.nullif(F.stddev_samp("cnt").over(w), F.lit(0)),
        4,
    )
    return (
        daily.withColumn("z", z)
        .filter(F.abs(F.col("z")) >= 2)
        .select("day", "event_type", "cnt", "z")
    )


@query(
    "repeat_purchase_intervals",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               CAST(CAST(o_orderdate AS DATE)
                    - CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                                  ORDER BY o_orderdate,
                                                           o_orderkey)
                           AS DATE) AS BIGINT) AS gap_days
        FROM orders
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS n_intervals,
           ROUND(AVG(g.gap_days), 4) AS avg_gap_days,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY g.gap_days), 4) AS median_gap_days,
           MAX(g.gap_days) AS max_gap_days
    FROM gaps g
    JOIN customer c ON c.c_custkey = g.o_custkey
    WHERE g.gap_days IS NOT NULL
    GROUP BY c.c_mktsegment
    """,
)
def q_repeat_purchase_intervals(spark, t):
    """Purchase cadence: the distribution of days between a customer's
    consecutive orders, rolled up per market segment — the input to
    churn-risk ('overdue by k× their cadence') scoring.

    The lag window is partitioned BY CUSTOMER (parallel across keys —
    never a global window), with o_orderkey as the deterministic
    tie-break for same-day orders so both engines pick identical
    predecessors. The segment dimension broadcast-enriches the
    per-interval rows; moments + one interpolated median aggregate in
    a single pass."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        t["orders"]
        .select(
            "o_custkey",
            F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias(
                "gap_days"
            ),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    seg = t["customer"].select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return (
        gaps.join(F.broadcast(seg), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.round(F.avg("gap_days"), 4).alias("avg_gap_days"),
            F.round(F.expr("percentile(gap_days, 0.5)"), 4).alias(
                "median_gap_days"
            ),
            F.max("gap_days").alias("max_gap_days"),
        )
    )


@query(
    "lead_time_trend_by_nation",
    oracle="""
    SELECT n.n_name,
           COUNT(*) AS n_lines,
           ROUND(AVG(CAST(CAST(l.l_shipdate AS DATE)
                          - CAST(o.o_orderdate AS DATE) AS BIGINT)), 4)
               AS avg_lead_days,
           ROUND(regr_slope(
               CAST(CAST(l.l_shipdate AS DATE)
                    - CAST(o.o_orderdate AS DATE) AS BIGINT),
               year(o.o_orderdate) * 12 + month(o.o_orderdate)), 4)
               AS lead_trend_per_month
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
    """,
)
def q_lead_time_trend_by_nation(spark, t):
    """Supplier lead-time trend: per supplier nation, the average
    order→ship fulfillment time and its regression slope against order
    month — 'is this nation's fulfillment getting slower?'. Both
    statistics are single-pass mergeable moment aggregates (regr_slope
    is covariance/variance of cross-moments), so the query is the
    fact-fact shuffle join on orderkey (both sides pre-projected to
    the join key + 1-2 columns), the broadcast supplier→nation dim,
    and one 25-key aggregate with map-side partials."""
    dims = F.broadcast(
        t["supplier"]
        .select("s_suppkey", "s_nationkey")
        .join(
            t["nation"].select("n_nationkey", "n_name"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("s_suppkey").alias("l_suppkey"), "n_name")
    )
    lines = t["lineitem"].select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    ords = t["orders"].select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    lead = F.datediff("l_shipdate", "o_orderdate")
    month_idx = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    return (
        lines.join(ords, "l_orderkey")
        .join(dims, "l_suppkey")
        .select("n_name", lead.alias("lead_days"), month_idx.alias("m"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.avg("lead_days"), 4).alias("avg_lead_days"),
            F.round(F.expr("regr_slope(lead_days, m)"), 4).alias(
                "lead_trend_per_month"
            ),
        )
    )


# Product quantization config: 64-dim vectors → 4 subspaces × 16 dims,
# 16-entry codebook per subspace seeded from the first 16 vectors
# (deterministic, training-free — a Lloyd refinement would slot in via
# emb_kmeans_assign's broadcast-seed shape).
PQ_M = 4
PQ_SUB = 16
PQ_K = 16
# PQ search query set: vec_ids [16, 24) — disjoint from the codebook
# seeds so no query has a trivially-zero subspace distance everywhere.
PQ_Q_LO, PQ_Q_HI = 16, 24
PQ_TOPK = 5


def _pq_dists(vectors, codebook_src=None):
    """(vec_id, m, k, d2): squared L2 from every vector's subspace m to
    codebook entry k. Codebook broadcast; distances are a map-side
    zip_with/aggregate fold over the subvector slices.

    ``codebook_src`` supplies the frame the PQ_K codebook seeds are
    drawn from (defaults to ``vectors``) — callers scoring a SLICE of
    the corpus (e.g. the query set) must pass the full corpus here or
    the codebook filter comes up empty."""
    emb = vectors
    cb = F.broadcast(
        (codebook_src if codebook_src is not None else emb)
        .filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("k"), F.col("embedding").alias("cemb"))
    )
    sub = emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
        "embedding",
    )
    d2 = F.aggregate(
        F.zip_with(
            F.slice("embedding", F.col("m") * PQ_SUB + 1, PQ_SUB),
            F.slice("cemb", F.col("m") * PQ_SUB + 1, PQ_SUB),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return sub.crossJoin(cb).select("vec_id", "m", "k", d2.alias("d2"))


def _pq_codes(emb):
    """(vec_id, m, code, d2): per-subspace argmin codebook assignment
    (min_by struct; smallest-k tie-break)."""
    return (
        _pq_dists(emb)
        .groupBy("vec_id", "m")
        .agg(F.min_by(F.struct("d2", "k"), F.struct("d2", "k")).alias("b"))
        .select(
            "vec_id", "m", F.col("b.k").alias("code"), F.col("b.d2").alias("d2")
        )
    )


# the shared distance/assignment CTE prefix for the PQ oracles
_PQ_CTES = f"""cb AS (
        SELECT vec_id AS k, embedding AS cemb FROM embeddings
        WHERE vec_id < {PQ_K}
    ),
    d AS (
        SELECT e.vec_id, m.m, c.k,
               (SELECT SUM(POW(CAST(e.embedding[m.m * {PQ_SUB} + j.j] AS DOUBLE)
                              - CAST(c.cemb[m.m * {PQ_SUB} + j.j] AS DOUBLE), 2))
                FROM generate_series(1, {PQ_SUB}) AS j(j)) AS d2
        FROM embeddings e, generate_series(0, {PQ_M - 1}) AS m(m), cb c
    ),
    mn AS (SELECT vec_id, m, MIN(d2) AS md FROM d GROUP BY vec_id, m),
    best AS (
        SELECT d.vec_id, d.m, MIN(d.k) AS code, ANY_VALUE(mn.md) AS d2
        FROM d
        JOIN mn ON mn.vec_id = d.vec_id AND mn.m = d.m AND d.d2 = mn.md
        GROUP BY d.vec_id, d.m
    )"""


@query(
    "emb_pq_codes",
    oracle=f"""
    WITH {_PQ_CTES}
    SELECT vec_id,
           CAST(MAX(CASE WHEN m = 0 THEN code END) AS BIGINT) AS c0,
           CAST(MAX(CASE WHEN m = 1 THEN code END) AS BIGINT) AS c1,
           CAST(MAX(CASE WHEN m = 2 THEN code END) AS BIGINT) AS c2,
           CAST(MAX(CASE WHEN m = 3 THEN code END) AS BIGINT) AS c3,
           -- fixed-order 4-term addition (the emb_pq_topk determinism
           -- lesson): float SUM() merge order varies run to run
           ROUND((MAX(CASE WHEN m = 0 THEN d2 END)
                  + MAX(CASE WHEN m = 1 THEN d2 END)
                  + MAX(CASE WHEN m = 2 THEN d2 END)
                  + MAX(CASE WHEN m = 3 THEN d2 END)) / 64, 4) AS mse
    FROM best GROUP BY vec_id
    """,
)
def q_emb_pq_codes(spark, t):
    """Product quantization: each 64-dim vector compresses to 4 bytes
    (one codebook index per 16-dim subspace) plus its reconstruction
    MSE — the memory layout every billion-vector ANN index (IVF-PQ)
    uses to fit in RAM.

    Scale shape: the codebook is PQ_K reference vectors (a kilobyte) —
    broadcast; assignment explodes each vector into PQ_M subspace rows
    and computes the PQ_K distances map-side via a zip_with/aggregate
    fold over the subvector slices (the fold stays a primitive loop;
    unrolled element_at trees fall out of codegen). argmin per
    (vector, subspace) is a min_by struct aggregate — one shuffle of
    PQ_M short rows per vector, then a map-side pivot back to one row
    per vector. No corpus-sized join anywhere."""
    emb = ensure_parallelism(t["embeddings"])
    best = _pq_codes(emb)
    code = lambda m: F.max(F.when(F.col("m") == m, F.col("code"))).cast("bigint")
    d2_of = lambda m: F.max(F.when(F.col("m") == m, F.col("d2")))
    # fixed-order 4-term addition (the emb_pq_topk determinism lesson)
    return best.groupBy("vec_id").agg(
        code(0).alias("c0"),
        code(1).alias("c1"),
        code(2).alias("c2"),
        code(3).alias("c3"),
        F.round(
            (d2_of(0) + d2_of(1) + d2_of(2) + d2_of(3)) / 64, 4
        ).alias("mse"),
    )


@query(
    "doc_dedup_rate_by_source",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_distinct_texts,
           ROUND(1.0 - COUNT(DISTINCT md5(text)) * 1.0 / COUNT(*), 4)
               AS dup_rate
    FROM documents
    GROUP BY source
    """,
)
def q_doc_dedup_rate_by_source(spark, t):
    """Dedup health mart: per ingestion source, how much of the corpus
    is exact-duplicate text — the first number a crawl-quality review
    asks for, and the gate for deciding which sources need the (more
    expensive) near-dup pass. One groupBy over md5 hashes; the
    count_distinct is a hash-only partial aggregate (text itself never
    shuffles)."""
    return (
        ensure_parallelism(t["documents"])
        .select("source", F.md5("text").alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("h").alias("n_distinct_texts"),
            F.round(
                1.0 - F.count_distinct("h") / F.count(F.lit(1)), 4
            ).alias("dup_rate"),
        )
    )


@query(
    "customer_churn_risk",
    oracle="""
    WITH anchor AS (SELECT MAX(o_orderdate) AS d FROM orders),
    gaps AS (
        SELECT o_custkey,
               CAST(CAST(o_orderdate AS DATE)
                    - CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                                  ORDER BY o_orderdate,
                                                           o_orderkey)
                           AS DATE) AS BIGINT) AS gap_days,
               o_orderdate
        FROM orders
    ),
    per_cust AS (
        SELECT o_custkey,
               COUNT(*) + 1 AS n_orders,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_days) AS median_gap_days,
               MAX(o_orderdate) AS last_order
        FROM gaps WHERE gap_days IS NOT NULL
        GROUP BY o_custkey
    )
    SELECT o_custkey,
           n_orders,
           CAST(CAST((SELECT d FROM anchor) AS DATE)
                - CAST(last_order AS DATE) AS BIGINT) AS days_since_last,
           ROUND(median_gap_days, 4) AS median_gap_days,
           CAST(CAST((SELECT d FROM anchor) AS DATE)
                - CAST(last_order AS DATE) AS BIGINT)
               > 2 * median_gap_days AS churn_risk
    FROM per_cust
    WHERE n_orders >= 3
    """,
)
def q_customer_churn_risk(spark, t):
    """Cadence-relative churn flags: a customer is at risk when their
    silence exceeds 2× their own median inter-order gap — the
    per-entity-baseline alert pattern (global thresholds misfire on
    naturally infrequent buyers). Requires ≥ 3 orders so the median is
    a real cadence.

    Shape: the lag window is per-customer (key-partitioned, parallel);
    the median is one interpolated percentile in the same per-customer
    aggregate; the dataset-max anchor attaches as a 1-row broadcast.
    The 2×-median comparison is exact (integer days vs .0/.5-valued
    medians), so the boolean is cross-engine deterministic."""
    anchor = t["orders"].agg(F.max("o_orderdate").alias("d"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = t["orders"].select(
        "o_custkey",
        "o_orderdate",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days"),
    )
    per_cust = (
        gaps.filter(F.col("gap_days").isNotNull())
        .groupBy("o_custkey")
        .agg(
            (F.count(F.lit(1)) + 1).alias("n_orders"),
            F.expr("percentile(gap_days, 0.5)").alias("median_gap"),
            F.max("o_orderdate").alias("last_order"),
        )
        .filter(F.col("n_orders") >= 3)
    )
    days_since = F.datediff(F.col("d"), F.col("last_order")).cast("long")
    return per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        "n_orders",
        days_since.alias("days_since_last"),
        F.round("median_gap", 4).alias("median_gap_days"),
        (days_since > 2 * F.col("median_gap")).alias("churn_risk"),
    )


@query(
    "orders_quality_checks",
    oracle="""
    WITH m AS (
        SELECT
            SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nn_key,
            COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS uq_key,
            SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn_cust,
            SUM(CASE WHEN o_orderstatus IS NOT NULL
                      AND o_orderstatus NOT IN ('O', 'F', 'P')
                     THEN 1 ELSE 0 END) AS av_status,
            SUM(CASE WHEN o_totalprice IS NOT NULL
                      AND (o_totalprice < 0 OR o_totalprice > 1000000000)
                     THEN 1 ELSE 0 END) AS rg_price,
            SUM(CASE WHEN o_orderpriority IS NOT NULL
                      AND length(regexp_replace(o_orderpriority,
                                                '^[1-5]-[A-Z ]+$', '')) > 0
                     THEN 1 ELSE 0 END) AS re_prio
        FROM orders
    )
    SELECT 'not_null' AS rule, 'o_orderkey' AS col_name,
           CAST(nn_key AS BIGINT) AS n_violations, nn_key = 0 AS passed
    FROM m
    UNION ALL
    SELECT 'unique', 'o_orderkey', CAST(uq_key AS BIGINT), uq_key = 0
    FROM m
    UNION ALL
    SELECT 'not_null', 'o_custkey', CAST(nn_cust AS BIGINT), nn_cust = 0
    FROM m
    UNION ALL
    SELECT 'accepted_values', 'o_orderstatus', CAST(av_status AS BIGINT),
           av_status = 0
    FROM m
    UNION ALL
    SELECT 'in_range', 'o_totalprice', CAST(rg_price AS BIGINT),
           rg_price = 0
    FROM m
    UNION ALL
    SELECT 'matches', 'o_orderpriority', CAST(re_prio AS BIGINT),
           re_prio = 0
    FROM m
    """,
)
def q_orders_quality_checks(spark, t):
    """Declarative data-quality suite over orders — the engine form of
    the reference README's 'automated testing and validation' claim
    (README.md:165, no code in the reference). Six rules (null-checks,
    key uniqueness, status enum, price range, priority format) compile
    into ONE aggregation pass via operators/quality.run_checks: a
    rule's cost is one conditional-count expression, not one table
    scan, so the suite reads 100 TB once regardless of rule count."""
    from ..operators.quality import (
        accepted_values,
        in_range,
        matches,
        not_null,
        run_checks,
        unique,
    )

    rules = [
        not_null("o_orderkey"),
        unique("o_orderkey"),
        not_null("o_custkey"),
        accepted_values("o_orderstatus", ["O", "F", "P"]),
        in_range("o_totalprice", 0, 1_000_000_000),
        matches("o_orderpriority", "[1-5]-[A-Z ]+"),
    ]
    return run_checks(t["orders"], rules)


@query(
    "lineitem_suppkey_skew",
    oracle="""
    WITH counts AS (
        SELECT l_suppkey AS key_value, COUNT(*) AS key_rows
        FROM lineitem GROUP BY l_suppkey
    ),
    totals AS (
        SELECT SUM(key_rows) AS n_rows, COUNT(*) AS n_keys,
               MAX(key_rows) AS max_rows
        FROM counts
    )
    SELECT c.key_value, c.key_rows,
           ROUND(c.key_rows * 100.0 / t.n_rows, 4) AS share_pct,
           CAST(t.n_rows AS BIGINT) AS n_rows, t.n_keys,
           ROUND(t.max_rows * t.n_keys * 1.0 / t.n_rows, 4) AS skew_factor
    FROM counts c, totals t
    ORDER BY c.key_rows DESC, c.key_value
    LIMIT 10
    """,
)
def q_lineitem_suppkey_skew(spark, t):
    """Join-key skew diagnostic on the lineitem→supplier key: the 10
    heaviest suppliers with their row share and the global skew factor
    — the pre-flight check that decides between a plain shuffle join,
    salting (salted_join_revenue), and AQE's skew splitter. One
    map-combined groupBy; global stats reduce the keyspace-sized count
    frame to a single broadcast row; top-k is TakeOrdered."""
    from ..operators.profiling import skew_profile

    return skew_profile(t["lineitem"], "l_suppkey", top=10)


@query(
    "emb_pq_topk",
    oracle=f"""
    WITH {_PQ_CTES},
    qt AS (
        SELECT d.vec_id AS query_id, d.m, d.k, d.d2
        FROM d
        WHERE d.vec_id >= {PQ_Q_LO} AND d.vec_id < {PQ_Q_HI}
    ),
    score AS (
        -- fixed-order subspace addition (t0+t1+t2+t3), NOT SUM():
        -- a float SUM's merge order is engine- and run-dependent, and
        -- a 4-way double sum at a ROUND/rank boundary can flip a
        -- digit between runs (observed once in a batch strict-check)
        SELECT qt.query_id, b.vec_id AS neighbor_id,
               MAX(CASE WHEN b.m = 0 THEN qt.d2 END)
               + MAX(CASE WHEN b.m = 1 THEN qt.d2 END)
               + MAX(CASE WHEN b.m = 2 THEN qt.d2 END)
               + MAX(CASE WHEN b.m = 3 THEN qt.d2 END) AS ad2
        FROM best b
        JOIN qt ON qt.m = b.m AND qt.k = b.code
        WHERE b.vec_id != qt.query_id
        GROUP BY qt.query_id, b.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, ad2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ad2, neighbor_id) AS rn
        FROM score
    )
    SELECT query_id, neighbor_id, ROUND(ad2, 4) AS approx_d2
    FROM ranked WHERE rn <= {PQ_TOPK}
    """,
)
def q_emb_pq_topk(spark, t):
    """PQ asymmetric-distance top-k search — the query-time half of
    IVF-PQ, completing emb_pq_codes: each query precomputes a
    (subspace × codebook-entry) squared-distance TABLE against the
    codebook, and every corpus vector is then scored by 4 table
    lookups on its stored codes — no vector arithmetic per corpus row
    at search time, which is why billion-vector indexes can afford
    exhaustive scoring.

    Scale shape: the distance tables are queries × PQ_M × PQ_K rows
    (kilobytes) — broadcast; the corpus side is the CODES frame (PQ_M
    shorts per vector, never the raw vectors), scored by one broadcast
    equi-join on (m, code) and a (query, vector)-keyed partial-sum
    aggregate; top-k is a per-query window over candidate grain."""
    emb = ensure_parallelism(t["embeddings"])
    codes = _pq_codes(emb).select("vec_id", "m", "code")
    qtab = (
        _pq_dists(
            emb.filter(
                (F.col("vec_id") >= PQ_Q_LO) & (F.col("vec_id") < PQ_Q_HI)
            ),
            codebook_src=emb,
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("m").alias("qm"),
            "k",
            "d2",
        )
    )
    # fixed-order subspace addition (t0+t1+t2+t3) instead of
    # F.sum("d2"): a float SUM's partial-merge order varies run to run
    # and engine to engine, and a 4-way double sum at a ROUND/rank
    # boundary can flip a digit (caught once by a batch strict-check).
    # MAX(WHEN m=i) picks each group's single per-subspace term; the
    # explicit + chain adds them in one deterministic IEEE order on
    # both engines.
    scores = (
        codes.join(
            F.broadcast(qtab),
            (F.col("m") == F.col("qm")) & (F.col("code") == F.col("k")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        # one explicit hash(query_id) exchange serves BOTH the
        # (query, neighbor) partial-sum aggregate (query_id ⊆ keys)
        # and the per-query top-k window below — the default plan paid
        # two exchanges, one per operator
        .repartition("query_id")
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            *[
                F.max(F.when(F.col("m") == i, F.col("d2"))).alias(f"t{i}")
                for i in range(PQ_M)
            ]
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                F.col("t0") + F.col("t1") + F.col("t2") + F.col("t3")
            ).alias("ad2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("ad2"), F.asc("neighbor_id"))
    return (
        scores.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= PQ_TOPK)
        .select("query_id", "neighbor_id", F.round("ad2", 4).alias("approx_d2"))
    )


@query(
    "pit_status_at_ship",
    oracle="""
    WITH versions AS (
        SELECT o_custkey, o_orderstatus, o_orderdate,
               LAG(o_orderstatus) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey)
                   AS prev_status,
               o_orderkey
        FROM orders
    ),
    changes AS (
        SELECT o_custkey, o_orderstatus AS status,
               o_orderdate AS valid_from, o_orderkey
        FROM versions
        WHERE prev_status IS NULL OR prev_status != o_orderstatus
    ),
    lines AS (
        SELECT o.o_custkey, l.l_shipdate
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    pit AS (
        SELECT ln.o_custkey, ln.l_shipdate,
               (SELECT c.status FROM changes c
                WHERE c.o_custkey = ln.o_custkey
                  AND c.valid_from <= ln.l_shipdate
                ORDER BY c.valid_from DESC, c.o_orderkey DESC
                LIMIT 1) AS status_at_ship
        FROM lines ln
    )
    SELECT status_at_ship, COUNT(*) AS n_lines,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM pit
    GROUP BY status_at_ship
    """,
)
def q_pit_status_at_ship(spark, t):
    """SCD2 CONSUMPTION, point-in-time: which customer status version
    was in force when each line item shipped. The status-change history
    (gaps-and-islands over each customer's orders) plays the versioned
    dimension; every ship event then does an AS-OF lookup against it —
    the query every SCD2 table exists to answer, here as the backward
    as-of join (operators/temporal.asof_join: one union-sweep window
    per key, no per-key cartesian, allow_exact for same-day shipping).

    Shipments before a customer's first status version aggregate under
    NULL — the honest answer for facts predating the dimension."""
    from ..operators.temporal import asof_join

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    versions = (
        t["orders"]
        .select(
            "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey",
            F.lag("o_orderstatus").over(w).alias("prev_status"),
        )
        .filter(
            F.col("prev_status").isNull()
            | (F.col("prev_status") != F.col("o_orderstatus"))
        )
        .select(
            "o_custkey",
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderdate").alias("valid_from"),
            "o_orderkey",
        )
    )
    lines = (
        t["lineitem"]
        .select("l_orderkey", "l_shipdate")
        .join(
            t["orders"].select(
                F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
            ),
            "l_orderkey",
        )
        .select("o_custkey", "l_shipdate")
    )
    pit = asof_join(
        lines,
        versions,
        on="o_custkey",
        left_ts="l_shipdate",
        right_ts="valid_from",
        payload=["status", "o_orderkey"],
        tie_break="o_orderkey",
        allow_exact=True,
    )
    return pit.groupBy(
        F.col("asof_status").alias("status_at_ship")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count_distinct("o_custkey").alias("n_customers"),
    )


@query(
    "ordered_funnel_conversions",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS viewed,
           (SELECT COUNT(*) FROM c) AS clicked_after_view,
           (SELECT COUNT(*) FROM p) AS purchased_after_click,
           ROUND((SELECT COUNT(*) FROM c) * 100.0
                 / NULLIF((SELECT COUNT(*) FROM v), 0), 4) AS view_to_click_pct,
           ROUND((SELECT COUNT(*) FROM p) * 100.0
                 / NULLIF((SELECT COUNT(*) FROM c), 0), 4) AS click_to_purchase_pct
    """,
)
def q_ordered_funnel_conversions(spark, t):
    """STRICT-SEQUENCE funnel: a user converts a stage only by doing it
    AFTER the previous stage (first view → first click after that view
    → first purchase after that click). The stage-count funnel
    (`funnel`) overcounts users who purchased before ever viewing;
    this is the order-respecting version product analytics actually
    wants.

    Shape: three aggregation rounds over events, every one keyed by
    user_id — the same hash partitioning reused, so stages 2 and 3
    probe the (shrinking) qualified-user frames, which AQE broadcasts
    as the funnel narrows. No per-user event arrays, no window over
    raw events, no self-join explosion."""
    ev = t["events"].select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("clicked_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("purchased_after_click")))
    )
    return counts.select(
        "viewed",
        "clicked_after_view",
        "purchased_after_click",
        F.round(
            F.col("clicked_after_view") * 100.0
            / F.nullif(F.col("viewed"), F.lit(0)),
            4,
        ).alias("view_to_click_pct"),
        F.round(
            F.col("purchased_after_click") * 100.0
            / F.nullif(F.col("clicked_after_view"), F.lit(0)),
            4,
        ).alias("click_to_purchase_pct"),
    )
