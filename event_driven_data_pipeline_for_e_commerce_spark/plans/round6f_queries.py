"""Round-6-staged corpus additions, part 6: deterministic weighted
reservoir sampling (Efraimidis–Spirakis priority keys), asymmetric
shingle-containment dedup audit (the subset-duplication Jaccard
misses), an int8-quantization recall contract (does vector compression
cost retrieval quality), quality-ordered curriculum phase assignment
under a cumulative token budget, and per-source unigram KL divergence
(distribution drift vs the corpus mix).

Parity rules: every float derivation (priority key, containment
ratio, recall share) is ONE fixed-order double expression evaluated
identically in both engines and rounded to an integer grain
(e4/e12) per row; thresshold comparisons are pure integer arithmetic
(n_common * 10 >= na * 8) so no boundary ever hinges on a float.
Randomness is md5-derived (seeded, engine-portable nibble decode) —
the established deterministic-randomness seam (corpus.py
deterministic_segments, round4 event_disorder_profile).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from event_driven_data_pipeline_for_e_commerce_spark.operators.cumulative import (
    running_sum_ranged,
)
from event_driven_data_pipeline_for_e_commerce_spark.operators.partitioning import (
    ensure_parallelism,
)
from event_driven_data_pipeline_for_e_commerce_spark.operators.pinning import pin

from .corpus import ORACLES, query

WEIGHTED_SAMPLE_N = 50

# Efraimidis–Spirakis priority key, fully portable: u is a uniform in
# (0,1) decoded from the first 6 md5 nibbles of the seeded doc id
# (instr-based nibble sum — runs verbatim in DuckDB and Spark SQL),
# and the key u^(1/w) is ONE fixed-order double expression rounded to
# e12. Top-N by key IS a w-weighted sample without replacement.
_WS_NIBBLE = (
    "(instr('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS STRING)),"
    " {k}, 1)) - 1)"
)
_WS_H = " + ".join(
    f"{_WS_NIBBLE.format(k=k)} * {16 ** (6 - k)}" for k in range(1, 7)
)
_WS_KEY = (
    f"CAST(ROUND(POWER(CAST({_WS_H} + 1 AS DOUBLE) / 16777217,"
    " CAST(1 AS DOUBLE) / GREATEST(n_chars, 1)) * 1e12) AS BIGINT)"
)


@query(
    "doc_weighted_sample",
    oracle=f"""
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           {_WS_KEY} AS key_e12
    FROM documents
    ORDER BY key_e12 DESC, doc_id
    LIMIT {WEIGHTED_SAMPLE_N}
    """,
)
def q_doc_weighted_sample(spark, t):
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis priority sampling): each document draws a
    seeded uniform u from md5(doc_id) and competes with priority key
    u^(1/w), w = its char length — the top-N by key is an exact
    w-weighted sample, the standard one-pass distributed primitive
    for building training mixes where longer/heavier documents should
    be proportionally likelier (reweight by swapping w).

    Scale shape: the key is map-side codegen per row (md5 + one pow),
    and the top-N cut plans TakeOrderedAndProject — a per-partition
    heap merged on the driver, never a global sort, never a window.
    Replays identically on any cluster size: the key depends only on
    doc_id, so the sample is reproducible across runs and engines."""
    return (
        ensure_parallelism(t["documents"])
        .select("doc_id", "source", "n_chars")
        .withColumn("key_e12", F.expr(_WS_KEY))
        .select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"), "key_e12")
        .orderBy(F.desc("key_e12"), "doc_id")
        .limit(WEIGHTED_SAMPLE_N)
    )


@query(
    "doc_containment_pairs",
    oracle=None,  # set below: reuses llm_queries' shared shingle CTEs
)
def q_doc_containment_pairs(spark, t):
    """Asymmetric containment dedup audit: document pairs where >= 80%
    of one side's shingles appear in the other (|A∩B|/|A| or
    |A∩B|/|B|) — the quote/subset duplication class that symmetric
    Jaccard dedup structurally misses (a short doc embedded verbatim
    in a long one has high containment but LOW Jaccard, so MinHash
    banding never surfaces it). Reports both containment directions
    and the Jaccard the near-dup path would have seen.

    Scale shape: the truth side is the exact all-pairs-sharing-a-
    shingle join — the AUDIT path (same class as
    minhash_recall_stats), quadratic in per-shingle document
    frequency, deliberately NOT the production path: run it on a
    sample at 100 TB; production containment-dedup hashes only the
    SHORTER side's shingles into the candidate join. Pair frames
    carry bare ids + 31-bit hash counts, never text; the 80%
    threshold is pure integer arithmetic (n_common * 10 >= n * 8), so
    no boundary hinges on a float."""
    from ..llmdata.dedup import shingle_hash_frame
    from .llm_queries import SHINGLE_N

    shb = pin(
        shingle_hash_frame(t["documents"], "text", "doc_id", SHINGLE_N)
    )
    sizes = shb.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shb.select(F.col("doc_id").alias("doc_a"), "base")
    b = shb.select(F.col("doc_id").alias("doc_b"), "base")
    inter_all = (
        a.join(b, "base")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb_ = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    e4 = lambda denom: F.round(
        F.col("n_common").cast("double") * 10000 / F.col(denom)
    ).cast("long")
    return (
        inter_all.join(sa, "doc_a")
        .join(sb_, "doc_b")
        .filter(
            (F.col("n_common") * 10 >= F.col("na") * 8)
            | (F.col("n_common") * 10 >= F.col("nb") * 8)
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("na").cast("long").alias("na"),
            F.col("nb").cast("long").alias("nb"),
            e4("na").alias("cont_a_in_b_e4"),
            e4("nb").alias("cont_b_in_a_e4"),
            F.round(
                F.col("n_common").cast("double")
                * 10000
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            )
            .cast("long")
            .alias("jaccard_e4"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _containment_oracle() -> str:
    from .llm_queries import _MINHASH_CTES

    return f"""
    WITH {_MINHASH_CTES},
    inter_all AS (
        SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shb s1 JOIN shb s2
          ON s2.base = s1.base AND s1.doc_id < s2.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS na,
           CAST(sb.n AS BIGINT) AS nb,
           CAST(ROUND(CAST(i.n_common AS DOUBLE) * 10000 / sa.n) AS BIGINT)
               AS cont_a_in_b_e4,
           CAST(ROUND(CAST(i.n_common AS DOUBLE) * 10000 / sb.n) AS BIGINT)
               AS cont_b_in_a_e4,
           CAST(ROUND(CAST(i.n_common AS DOUBLE) * 10000
                / (sa.n + sb.n - i.n_common)) AS BIGINT) AS jaccard_e4
    FROM inter_all i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_common * 10 >= sa.n * 8 OR i.n_common * 10 >= sb.n * 8
    ORDER BY i.doc_a, i.doc_b
    """


INT8_K = 3  # mirrors emb_cosine_topk / ANN_K
INT8_Q_MAX = 5  # query set: vec_id < 5 (mirrors emb_cosine_topk)


@query(
    "emb_int8_recall_contract",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (
        SELECT vec_id, v,
               GREATEST(list_max(list_transform(v, x -> ABS(x))), 1e-12) AS amax
        FROM e
    ),
    r AS (
        SELECT vec_id,
               list_transform(v, x ->
                   CAST(ROUND(x * 127.0 / amax) AS BIGINT) * amax / 127.0) AS v
        FROM s
    ),
    truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                       list_dot_product(e.v, q.v)
                       / (sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(q.v, q.v))) DESC,
                       e.vec_id) AS rn
            FROM e JOIN e q ON q.vec_id < {INT8_Q_MAX}
                           AND e.vec_id <> q.vec_id
        ) WHERE rn <= {INT8_K}
    ),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                       list_dot_product(e.v, q.v)
                       / (sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(q.v, q.v))) DESC,
                       e.vec_id) AS rn
            FROM r e JOIN r q ON q.vec_id < {INT8_Q_MAX}
                             AND e.vec_id <> q.vec_id
        ) WHERE rn <= {INT8_K}
    ),
    hits AS (
        SELECT t.query_id,
               COUNT(a.neighbor_id) AS h
        FROM truth t LEFT JOIN approx a
          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
        GROUP BY t.query_id
    )
    SELECT COUNT(*) AS n_queries,
           CAST(ROUND(CAST(SUM(h) AS DOUBLE) * 10000
                / ({INT8_K} * COUNT(*))) AS BIGINT) AS avg_recall_e4,
           CAST(ROUND(CAST(MIN(h) AS DOUBLE) * 10000 / {INT8_K}) AS BIGINT)
               AS min_recall_e4
    FROM hits
    """,
)
def q_emb_int8_recall_contract(spark, t):
    """Does int8 compression cost retrieval quality? Recall@k of
    brute-force cosine top-k computed over int8-quantized-then-
    reconstructed vectors (the exact arithmetic of
    ``emb_int8_quantize``) against the float-precision top-k — the
    go/no-go contract before shipping quantized embeddings to an ANN
    index or a training shard. Complements ``emb_ann_recall_contract``
    (which audits INDEX approximation; this audits STORAGE
    approximation).

    Scale shape: quantize/reconstruct is map-side per vector; both
    searches broadcast the bounded query set against the corpus (the
    exact-truth shape, audited by emb_cosine_topk's own plan); the
    hit join and rollup are query-set-grain. Integer hit counts sum
    exactly — the only float is one fixed-order recall division."""
    from ..llmdata.similarity import _as_double, brute_force_topk

    e = ensure_parallelism(t["embeddings"]).select(
        "vec_id", _as_double("embedding").alias("v")
    )
    amax = F.greatest(
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))),
        F.lit(1e-12),
    )
    recon = e.withColumn("amax", amax).select(
        "vec_id",
        F.transform(
            F.col("v"),
            lambda x: F.round(x * 127.0 / F.col("amax")).cast("long")
            * F.col("amax")
            / 127.0,
        ).alias("embedding"),
    )
    base = e.select("vec_id", F.col("v").alias("embedding"))
    truth = pin(
        brute_force_topk(
            base, base.filter(F.col("vec_id") < INT8_Q_MAX), k=INT8_K
        ).select("query_id", "neighbor_id")
    )
    approx = brute_force_topk(
        recon, recon.filter(F.col("vec_id") < INT8_Q_MAX), k=INT8_K
    ).select("query_id", "neighbor_id")
    hits = (
        truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    per_q = (
        truth.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(F.coalesce(F.col("h"), F.lit(0)).alias("h"))
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(
            F.sum("h").cast("double")
            * 10000
            / (INT8_K * F.count(F.lit(1)))
        )
        .cast("long")
        .alias("avg_recall_e4"),
        F.round(F.min("h").cast("double") * 10000 / INT8_K)
        .cast("long")
        .alias("min_recall_e4"),
    )


N_CURRICULUM_PHASES = 3


@query(
    "doc_curriculum_phases",
    oracle=r"""
    WITH f AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS toks,
               length(text) AS n_chars,
               length(text) - length(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g')) AS punct_cnt
        FROM documents
    ),
    g AS (
        SELECT doc_id, len(toks) AS n_tokens, n_chars, punct_cnt,
               len(list_filter(toks, t -> list_contains(
                   ['the','a','and','of','to','in','is'], t))) AS stop_cnt
        FROM f
    ),
    q AS (
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(ROUND(ROUND(0.4 * LEAST(n_tokens / 100.0, 1.0)
                     + 0.3 * (stop_cnt * 1.0 / n_tokens)
                     + 0.3 * (1 - punct_cnt * 1.0 / n_chars), 4)
                   * 10000) AS BIGINT) AS qs_e4
        FROM g
    ),
    c AS (
        SELECT n_tokens, qs_e4,
               SUM(n_tokens) OVER (ORDER BY qs_e4 DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(n_tokens) OVER () AS tot
        FROM q
    ),
    p AS (
        SELECT CASE WHEN cum * 3 <= tot THEN 1
                    WHEN cum * 3 <= tot * 2 THEN 2
                    ELSE 3 END AS phase,
               n_tokens, qs_e4
        FROM c
    )
    SELECT phase,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS phase_tokens,
           CAST(SUM(qs_e4) // COUNT(*) AS BIGINT) AS avg_quality_e4,
           CAST(MIN(qs_e4) AS BIGINT) AS min_quality_e4
    FROM p GROUP BY phase ORDER BY phase
    """,
)
def q_doc_curriculum_phases(spark, t):
    """Curriculum assignment for training-data ordering: documents
    ranked best-quality-first, then split into three phases of equal
    TOKEN budget (not equal doc count) by the running token total —
    phase 1 is the cleanest third of the token mass, phase 3 the
    noisiest. Reports each phase's document count, token volume, and
    mean/floor quality, the numbers a curriculum schedule is built
    from.

    Scale shape: the globally-ordered running token sum goes through
    ``running_sum_ranged`` — range-repartition on (quality desc, id) +
    per-partition partials + a PARTITION BY __pid window — so the
    global order costs one range exchange, never a single-task
    window (the repo-wide unpartitioned-window guard stays clean).
    Quality scores are e4-quantized BEFORE ranking and summing, so
    ordering and the phase averages are exact-integer on both
    engines; the phase boundary test (cum * 3 <= tot) never touches a
    float."""
    from ..llmdata.text import quality_features

    feats = quality_features("text")
    q = ensure_parallelism(t["documents"]).select(
        "doc_id",
        feats["n_tokens"].cast("long").alias("n_tokens"),
        F.round(feats["quality_score"] * 10000)
        .cast("long")
        .alias("qs_e4"),
    )
    c = running_sum_ranged(
        q,
        [F.col("qs_e4").desc(), F.col("doc_id").asc()],
        "n_tokens",
        "cum",
    )
    tot = c.agg(F.sum("n_tokens").cast("long").alias("tot"))
    p = c.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("cum") * 3 <= F.col("tot"), 1)
        .when(F.col("cum") * 3 <= F.col("tot") * 2, 2)
        .otherwise(3)
        .alias("phase"),
        "n_tokens",
        "qs_e4",
    )
    return (
        p.groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("phase_tokens"),
            F.expr("sum(qs_e4) DIV count(*)").alias("avg_quality_e4"),
            F.min("qs_e4").cast("long").alias("min_quality_e4"),
        )
        .orderBy("phase")
    )


# late-bound oracle: shares llm_queries' shingle/size CTE block so the
# audit stays expression-identical with the minhash family
ORACLES["doc_containment_pairs"] = _containment_oracle()


# KL term for one token within one source, e6-rounded from exact
# integer counts: P_s(t) * ln(P_s(t) / Q(t)) with the ratio expanded
# to (cst * nn) / (ns * ct) so both engines evaluate ONE double
# expression in the same order.
_KL_TERM = (
    "CAST(ROUND((CAST(cst AS DOUBLE) / ns)"
    " * LN((CAST(cst AS DOUBLE) * nn) / (CAST(ns AS DOUBLE) * ct))"
    " * 1000000) AS BIGINT)"
)


@query(
    "doc_source_kl_divergence",
    oracle=rf"""
    WITH toks AS (
        SELECT source,
               UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents
    ),
    st AS (SELECT source, tok, COUNT(*) AS cst FROM toks GROUP BY 1, 2),
    marg_s AS (SELECT source, SUM(cst) AS ns FROM st GROUP BY source),
    marg_t AS (SELECT tok, SUM(cst) AS ct FROM st GROUP BY tok),
    tot AS (SELECT SUM(cst) AS nn FROM st),
    terms AS (
        SELECT st.source, {_KL_TERM} AS term_e6
        FROM st
        JOIN marg_s ON marg_s.source = st.source
        JOIN marg_t ON marg_t.tok = st.tok
        CROSS JOIN tot
    )
    SELECT t.source,
           CAST(m.ns AS BIGINT) AS n_tokens,
           v.vocab,
           CAST(SUM(t.term_e6) AS BIGINT) AS kl_e6
    FROM terms t
    JOIN marg_s m ON m.source = t.source
    JOIN (SELECT source, COUNT(*) AS vocab FROM st GROUP BY source) v
      ON v.source = t.source
    GROUP BY t.source, m.ns, v.vocab
    ORDER BY t.source
    """,
)
def q_doc_source_kl_divergence(spark, t):
    """Distribution drift per source: KL(P_source || P_corpus) over
    unigram token distributions — the standard 'how far is this
    source's language from the training mix' screen that decides
    upsampling/filtering before a data mix is frozen (complements
    ``source_vocab_overlap``, which only sees vocabulary sets, not
    mass). Also reports each source's token volume and vocabulary
    size.

    Scale shape: token unfold is map-side; (source, token) counts get
    map-side combine; the token-marginal join is a keyed equi-join at
    vocab grain (Zipf-bounded, far below corpus grain); source
    margins and the grand total broadcast. Each KL term is ONE
    fixed-order double from exact integer counts, e6-rounded, then
    integer-summed per source — no parallel float sum reaches the
    output."""
    from ..llmdata.text import tokens_col

    toks = (
        ensure_parallelism(t["documents"])
        .select("source", F.explode(tokens_col("text")).alias("tok"))
    )
    # three consumers (source margins, token margins, grand total) —
    # pin so the token unfold + (source, token) shuffle run once
    st = pin(
        toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cst"))
    )
    marg_s = st.groupBy("source").agg(F.sum("cst").cast("long").alias("ns"))
    marg_t = st.groupBy("tok").agg(F.sum("cst").cast("long").alias("ct"))
    tot = st.agg(F.sum("cst").cast("long").alias("nn"))
    vocab = st.groupBy("source").agg(F.count(F.lit(1)).alias("vocab"))
    terms = (
        st.join(F.broadcast(marg_s), "source")
        .join(marg_t, "tok")
        .crossJoin(F.broadcast(tot))
        .select("source", F.expr(_KL_TERM).alias("term_e6"))
    )
    return (
        terms.groupBy("source")
        .agg(F.sum("term_e6").cast("long").alias("kl_e6"))
        .join(F.broadcast(marg_s), "source")
        .join(F.broadcast(vocab), "source")
        .select(
            "source",
            F.col("ns").alias("n_tokens"),
            "vocab",
            "kl_e6",
        )
        .orderBy("source")
    )


BACKLOG_TOPN = 20


@query(
    "supplier_backlog_peak",
    oracle=f"""
    WITH iv AS (
        SELECT l.l_suppkey AS suppkey,
               CAST(o.o_orderdate AS DATE) AS d_open,
               CAST(l.l_shipdate AS DATE) AS d_ship
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate > o.o_orderdate
    ),
    ev AS (
        SELECT suppkey, d_open AS d, 1 AS delta FROM iv
        UNION ALL
        SELECT suppkey, d_ship AS d, -1 AS delta FROM iv
    ),
    daily AS (
        SELECT suppkey, d, CAST(SUM(delta) AS BIGINT) AS delta
        FROM ev GROUP BY suppkey, d
    ),
    run AS (
        SELECT suppkey, d,
               SUM(delta) OVER (PARTITION BY suppkey ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS n_open
        FROM daily
    ),
    pk AS (
        SELECT suppkey, n_open AS peak_open,
               substr(CAST(d AS STRING), 1, 10) AS peak_date,
               ROW_NUMBER() OVER (PARTITION BY suppkey
                   ORDER BY n_open DESC, d) AS rn
        FROM run
    )
    SELECT suppkey, CAST(peak_open AS BIGINT) AS peak_open, peak_date
    FROM pk WHERE rn = 1
    ORDER BY peak_open DESC, suppkey
    LIMIT {BACKLOG_TOPN}
    """,
)
def q_supplier_backlog_peak(spark, t):
    """Interval-concurrency sweep-line: each supplier's PEAK number of
    simultaneously open lineitems (order placed, not yet shipped) and
    the day it was first reached — the capacity-planning number
    backlog AGE buckets (``orders_backlog_aging``) can't give you,
    because peak concurrency is a property of interval OVERLAP, not of
    any single day's snapshot.

    Scale shape: the classic distributed sweep-line — each interval
    becomes two (+1/-1) day-grain events (map-side after one keyed
    fact-fact join), events pre-aggregate per (supplier, day) with
    map-side combine, and the running balance is a SUPPLIER-partitioned
    window (day grain per supplier is calendar-bounded; never a
    single-task global window). The top-20 cut ranks a supplier-grain
    frame. Half-open [order, ship) semantics: a lineitem shipping the
    same day it was opened never counts toward the peak."""
    from pyspark.sql import Window

    # both event branches (+1 opens, -1 ships) read this frame — pin
    # so the fact-fact join runs once, not twice
    iv = pin(
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.col("o_orderdate").cast("date").alias("d_open"),
            F.col("l_shipdate").cast("date").alias("d_ship"),
        )
    )
    ev = iv.select(
        "suppkey", F.col("d_open").alias("d"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select(
            "suppkey", F.col("d_ship").alias("d"), F.lit(-1).alias("delta")
        )
    )
    daily = ev.groupBy("suppkey", "d").agg(
        F.sum("delta").cast("long").alias("delta")
    )
    w_run = (
        Window.partitionBy("suppkey")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = daily.withColumn("n_open", F.sum("delta").over(w_run))
    w_pk = Window.partitionBy("suppkey").orderBy(
        F.desc("n_open"), F.asc("d")
    )
    return (
        run.withColumn("rn", F.row_number().over(w_pk))
        .filter(F.col("rn") == 1)
        .select(
            "suppkey",
            F.col("n_open").cast("long").alias("peak_open"),
            F.substring(F.col("d").cast("string"), 1, 10).alias(
                "peak_date"
            ),
        )
        .orderBy(F.desc("peak_open"), "suppkey")
        .limit(BACKLOG_TOPN)
    )


@query(
    "brand_weighted_median_price",
    oracle="""
    WITH lp AS (
        SELECT p.p_brand AS brand,
               CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS price_e2,
               CAST(l.l_quantity AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    c AS (
        SELECT brand, price_e2, qty,
               SUM(qty) OVER (PARTITION BY brand ORDER BY price_e2
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_w,
               SUM(qty) OVER (PARTITION BY brand) AS tot_w
        FROM lp
    )
    SELECT brand,
           COUNT(*) AS n_lines,
           CAST(MAX(tot_w) AS BIGINT) AS total_qty,
           CAST(MIN(CASE WHEN cum_w * 2 >= tot_w THEN price_e2 END)
                AS BIGINT) AS weighted_median_price_e2
    FROM c GROUP BY brand ORDER BY brand
    """,
)
def q_brand_weighted_median_price(spark, t):
    """Exact QUANTITY-WEIGHTED median unit price per brand — the
    'price of the median unit sold', which differs from the plain
    line median whenever cheap lines carry big quantities (the number
    a pricing review actually wants). Lower weighted median: the
    smallest price whose cumulative quantity mass reaches half the
    brand total.

    Scale shape: one fact-dim join (part broadcasts), then
    BRAND-partitioned cumulative windows — never a global sort. The
    half-mass test is integer arithmetic (cum * 2 >= tot) and the
    picked price is deterministic under price ties: the crossing row
    always lands inside a fixed price group regardless of intra-tie
    order, and MIN over qualifying rows reads only that group's
    price."""
    from pyspark.sql import Window

    lp = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("price_e2"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
    )
    w_cum = (
        Window.partitionBy("brand")
        .orderBy("price_e2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("brand")
    c = lp.select(
        "brand",
        "price_e2",
        "qty",
        F.sum("qty").over(w_cum).alias("cum_w"),
        F.sum("qty").over(w_tot).alias("tot_w"),
    )
    return (
        c.groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.max("tot_w").cast("long").alias("total_qty"),
            F.min(
                F.when(
                    F.col("cum_w") * 2 >= F.col("tot_w"), F.col("price_e2")
                )
            )
            .cast("long")
            .alias("weighted_median_price_e2"),
        )
        .orderBy("brand")
    )


# Deterministic A/B arm: parity of the first md5 nibble of the seeded
# user id — the same engine-portable nibble decode as the weighted
# sampler; arm A gets even nibbles, B odd.
_AB_ARM = (
    "CASE WHEN (instr('0123456789abcdef',"
    " substr(md5('ab:' || CAST(user_id AS STRING)), 1, 1)) - 1) % 2 = 0"
    " THEN 'A' ELSE 'B' END"
)


@query(
    "ab_test_conversion_lift",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               {_AB_ARM} AS arm,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id
    ),
    arms AS (
        SELECT arm, COUNT(*) AS n, CAST(SUM(converted) AS BIGINT) AS k
        FROM u GROUP BY arm
    ),
    wide AS (
        SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS n_a,
               MAX(CASE WHEN arm = 'A' THEN k END) AS k_a,
               MAX(CASE WHEN arm = 'B' THEN n END) AS n_b,
               MAX(CASE WHEN arm = 'B' THEN k END) AS k_b
        FROM arms
    )
    SELECT n_a, k_a, n_b, k_b,
           CAST(FLOOR(CAST(k_a AS DOUBLE) * 10000 / n_a) AS BIGINT)
               AS conv_a_bp,
           CAST(FLOOR(CAST(k_b AS DOUBLE) * 10000 / n_b) AS BIGINT)
               AS conv_b_bp,
           CAST(ROUND((CAST(k_b AS DOUBLE) / n_b - CAST(k_a AS DOUBLE) / n_a)
               / SQRT((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
                      * (1 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
                      * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))
               * 10000) AS BIGINT) AS z_e4
    FROM wide
    """,
)
def q_ab_test_conversion_lift(spark, t):
    """Two-proportion A/B readout: users deterministically split into
    arms by md5 parity (the hash-based assignment every replayable
    experiment framework uses — stable across runs, engines, and
    cluster sizes), per-arm user-grain conversion (any purchase), and
    the pooled two-proportion z statistic for the B-vs-A lift — the
    decision number an experimentation mart serves.

    Scale shape: one user-grain aggregation (map-side combine on the
    seeded-hash arm + MAX flag), a 2-row arm rollup, then scalar
    pivot arithmetic. Counts are exact integers end-to-end; the z
    statistic is ONE fixed-order double expression e4-rounded at the
    very end."""
    u = (
        t["events"]
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
        .withColumn("arm", F.expr(_AB_ARM))
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").cast("long").alias("k"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("k"))).alias("k_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("k"))).alias("k_b"),
    )
    return wide.select(
        "n_a", "k_a", "n_b", "k_b",
        F.expr(
            "CAST(FLOOR(CAST(k_a AS DOUBLE) * 10000 / n_a) AS BIGINT)"
        ).alias("conv_a_bp"),
        F.expr(
            "CAST(FLOOR(CAST(k_b AS DOUBLE) * 10000 / n_b) AS BIGINT)"
        ).alias("conv_b_bp"),
        F.expr(
            "CAST(ROUND((CAST(k_b AS DOUBLE) / n_b - CAST(k_a AS DOUBLE) / n_a)"
            " / SQRT((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))"
            "        * (1 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))"
            "        * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))"
            " * 10000) AS BIGINT)"
        ).alias("z_e4"),
    )


PATH_TOPN = 10


@query(
    "purchase_path_topk",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type, 1) OVER w AS prev1,
               LAG(event_type, 2) OVER w AS prev2
        FROM events
        WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
        SELECT COALESCE(prev2, '(start)') || ' > '
               || COALESCE(prev1, '(start)') || ' > purchase' AS path
        FROM seq WHERE event_type = 'purchase'
    )
    SELECT path, COUNT(*) AS n_purchases
    FROM paths GROUP BY path
    ORDER BY n_purchases DESC, path
    LIMIT {PATH_TOPN}
    """,
)
def q_purchase_path_topk(spark, t):
    """Top conversion paths: the most common 3-step event sequences
    ending in a purchase (the two events immediately preceding it,
    '(start)' when history is shorter) — the path-analysis surface
    behind 'what journeys actually convert', one level deeper than the
    2-gram transition matrix (``user_event_transitions``) and the
    Markov argmax contract.

    Scale shape: ONE user-partitioned window produces both lags (named
    WINDOW clause — both engines plan a single sort), the path string
    exists only for purchase rows (filter before concat), and the
    path rollup gets map-side combine on a bounded key space
    (|event_types|² paths). Top-10 ranks exact integer counts with a
    path tie-break."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        t["events"]
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            F.lag("event_type", 1).over(w).alias("prev1"),
            F.lag("event_type", 2).over(w).alias("prev2"),
        )
    )
    paths = seq.filter(F.col("event_type") == "purchase").select(
        F.concat_ws(
            " > ",
            F.coalesce(F.col("prev2"), F.lit("(start)")),
            F.coalesce(F.col("prev1"), F.lit("(start)")),
            F.lit("purchase"),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy(F.desc("n_purchases"), "path")
        .limit(PATH_TOPN)
    )


WINNOW_K = 8  # char k-gram size
WINNOW_W = 4  # winnowing window (guarantee length = k + w - 1 = 11)
WINNOW_TOPN = 20

# 31-bit md5 nibble hash of one char k-gram starting at position i of
# the normalized skeleton nm — the oracle-side twin of
# llmdata.dedup._shingle_base applied to substr(nm, i, k).
_WN_HASH = (
    "CAST(list_sum(list_transform(generate_series(1, 8), kk ->"
    " (instr('0123456789abcdef',"
    f" substr(md5(substr(nm, i, {WINNOW_K})), kk, 1)) - 1)"
    " * 16 ** (8 - kk))) AS BIGINT) % 2147483647"
)


@query(
    "doc_winnow_fingerprint_matches",
    oracle=f"""
    WITH nrm AS (
        SELECT doc_id,
               regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nm
        FROM documents
    ),
    hs AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, length(nm) - {WINNOW_K - 1}),
                   i -> {_WN_HASH}) AS hl
        FROM nrm WHERE length(nm) >= {WINNOW_K + WINNOW_W - 1}
    ),
    fps AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(
                   generate_series(1, len(hl) - {WINNOW_W - 1}),
                   j -> list_min(hl[j:j+{WINNOW_W - 1}])))) AS fp
        FROM hs
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS shared_fps
        FROM fps a JOIN fps b
          ON b.fp = a.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(shared_fps AS BIGINT) AS shared_fps
    FROM pairs
    ORDER BY shared_fps DESC, doc_a, doc_b
    LIMIT {WINNOW_TOPN}
    """,
)
def q_doc_winnow_fingerprint_matches(spark, t):
    """Winnowing (MOSS) copy detection: the top document pairs by
    shared WINNOWED fingerprints — char-grain, so it catches verbatim
    passage reuse across token boundaries that word-shingle MinHash
    blurs, with the classic guarantee that any shared substring of
    length >= k + w - 1 (= 11 normalized chars) is caught while only
    ~2/(w+1) of k-gram hashes are stored.

    Scale shape: fingerprint selection is wholly map-side (one
    projection: normalize, per-position 31-bit hashes, window minima,
    distinct) — only selected (id, fp) pairs leave the task, the
    winnowing guarantee's whole point at 100 TB. The pair join is the
    exact-audit equi-self-join on fp (same class as the containment
    audit — production runs it behind the `lsh_candidate_pairs`
    bucket cap for boilerplate-heavy corpora). Counts are exact
    integers; the top-20 cut tie-breaks on ids."""
    from ..llmdata.dedup import winnow_fingerprint_frame

    fps = pin(
        winnow_fingerprint_frame(
            t["documents"], "text", "doc_id", k=WINNOW_K, w=WINNOW_W
        )
    )
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .orderBy(F.desc("shared_fps"), "doc_a", "doc_b")
        .limit(WINNOW_TOPN)
    )
