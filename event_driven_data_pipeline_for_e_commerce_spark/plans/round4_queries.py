"""Round-4 corpus additions: ANN recall contracts and composed
pipeline marts.

Every query is oracle-paired (ANSI SQL for DuckDB) and keeps the
100 TB shape rules: broadcast for query-sized frames, candidate
generation by equi-join only, exact integer or bit-parity float
arithmetic wherever a cross-engine difference could flip a rounded
digit.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Window

from .corpus import ORACLES, QUERIES, query
from ..operators.pinning import pin

# PQ search parameters (mirrors round3_queries): queries are
# vec_id in [PQ_Q_LO, PQ_Q_HI), k = PQ_TOPK, metric = squared L2.
from .round3_queries import PQ_Q_LO, PQ_Q_HI, PQ_TOPK

ANN_K = 3  # cosine-top-k contract size (mirrors emb_cosine_topk)
ANN_Q_HI = 5  # cosine query set: vec_id < 5 (mirrors emb_cosine_topk)


def _l2_truth_oracle() -> str:
    """Exact squared-L2 top-PQ_TOPK ground truth for the PQ query set
    — same arithmetic order as the Spark side (dot(v,v) + dot(q,q)
    - 2*dot(v,q), no sqrt round-trip) so ranks match bit-for-bit."""
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (
        SELECT vec_id AS query_id, v AS qv FROM e
        WHERE vec_id >= {PQ_Q_LO} AND vec_id < {PQ_Q_HI}
    ),
    pairs AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(e.v, e.v) + list_dot_product(q.qv, q.qv)
               - 2 * list_dot_product(e.v, q.qv) AS d2
        FROM e, q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY d2, neighbor_id) rn
          FROM pairs)
    WHERE rn <= {PQ_TOPK}
    """


def _ann_recall_oracle() -> str:
    """Composed oracle (the doc_near_dup_consensus pattern): each ANN
    method's REGISTERED oracle is embedded verbatim as a subquery, so
    the contract can never drift from what the per-method correctness
    rows verify; ground truth is the registered brute-force cosine
    oracle (ivf/lsh) and the exact-L2 derivation above (pq)."""
    blocks = []
    for method, src, truth, k in (
        ("ivf", ORACLES["emb_ivf_topk"], "truth_cos", ANN_K),
        ("lsh", ORACLES["emb_lsh_topk"], "truth_cos", ANN_K),
        ("pq", ORACLES["emb_pq_topk"], "truth_l2", PQ_TOPK),
    ):
        blocks.append(f"""
    SELECT '{method}' AS method, t.query_id,
           COUNT(a.neighbor_id) * 1.0 / {k} AS recall
    FROM (SELECT DISTINCT query_id FROM {truth}) t
    LEFT JOIN (
        SELECT s.query_id, s.neighbor_id
        FROM ({src}) s
        JOIN {truth} g
          ON g.query_id = s.query_id AND g.neighbor_id = s.neighbor_id
    ) a ON a.query_id = t.query_id
    GROUP BY t.query_id""")
    union = "\n    UNION ALL\n".join(blocks)
    return f"""
    WITH truth_cos AS (
        SELECT query_id, neighbor_id FROM ({ORACLES["emb_cosine_topk"]}) t
    ),
    truth_l2 AS (
        SELECT query_id, neighbor_id FROM ({_l2_truth_oracle()}) t
    ),
    per_query AS ({union})
    SELECT method,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(AVG(recall), 4) AS avg_recall,
           ROUND(MIN(recall), 4) AS min_recall
    FROM per_query GROUP BY method
    """


@query("emb_ann_recall_contract", oracle=_ann_recall_oracle())
def q_emb_ann_recall_contract(spark, t):
    """Recall@k of every approximate-nearest-neighbor path against its
    exact ground truth — the quality contract CORRECTNESS alone can't
    see: an ANN index can be 'correct' (returns what its algorithm
    says) while silently losing recall, which is the LLM-pipeline
    failure mode that matters. ivf and lsh are scored against the
    brute-force cosine top-3 (emb_cosine_topk); pq against exact
    squared-L2 top-5 over its own query set (PQ ranks by approximate
    L2, so cosine truth would be the wrong contract).

    Scale shape: each method's result and truth are query-set-sized
    (handfuls of rows at any corpus size — k rows per query); the
    joins and the per-query hit counts are on those tiny frames. The
    expensive parts are the underlying searches, whose plans are
    audited by their own queries; this contract adds only
    query-set-grain work on top.

    Pinning (round 7 + r12): the unioned ``truths`` frame (consumed
    twice: semi-join probe + per-query denominator) and — new in r12,
    guide §2.4 reuse-the-exchange — ONE shared corpus-side projection
    ``(vec_id, v, n2 = dot(v, v))`` feeding BOTH truth sides. Before,
    the cosine truth and the L2 truth each re-scanned embeddings and
    re-ran the squared-norm fold — and the L2 side evaluated
    ``dot(v, v)`` per PAIR (once per query = 8x per corpus vector)
    because the norm was not attached before the broadcast join. The
    shared pin computes the fold once per vector; the cosine side
    takes sqrt(n2) (bit-identical to norm(v) — same fold, same sqrt)
    and the L2 side uses n2 directly (same add order as before:
    n2 + qn2 - 2*dot). The round-6 lesson still holds for the three
    SEARCH pipelines (ivf/lsh/pq build different projections — sign
    sketches, probe lists, codes — so a shared pin would only add
    persist passes; each is consumed once). A standalone A/B
    (docs/AB_RECORDS.md, "pin forms") for the r7 one-pin form
    measured ~3.1s vs ~3.4s for the five-pin form at sf0.1."""
    from ..llmdata.similarity import _as_double, dot
    from ..operators.partitioning import ensure_parallelism

    # shared corpus projection: one embeddings scan + one squared-norm
    # fold per vector, reused by the cosine truth and the L2 truth
    corpus = pin(
        ensure_parallelism(t["embeddings"])
        .select("vec_id", _as_double("embedding").alias("v"))
        .withColumn("n2", dot(F.col("v"), F.col("v")))
    )

    # exact cosine top-ANN_K truth (the emb_cosine_topk contract,
    # arithmetic identical to llmdata.similarity.brute_force_topk:
    # norms attached per vector before the pair join, sim ranked raw
    # with id tie-break, rounded after ranking — the rounding column
    # is dropped here since only (query_id, neighbor_id) feed recall)
    cos_corpus = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        "v",
        F.sqrt(F.col("n2")).alias("n_v"),
    )
    cos_q = corpus.filter(F.col("vec_id") < ANN_Q_HI).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.sqrt(F.col("n2")).alias("n_q"),
    )
    cos_pairs = cos_corpus.join(
        F.broadcast(cos_q), F.col("neighbor_id") != F.col("query_id")
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    truth_cos = (
        cos_pairs.withColumn(
            "sim",
            dot(F.col("v"), F.col("qv")) / (F.col("n_v") * F.col("n_q")),
        )
        .withColumn("__rn", F.row_number().over(w_cos))
        .filter(F.col("__rn") <= ANN_K)
        .select("query_id", "neighbor_id")
    )

    q = corpus.filter(
        (F.col("vec_id") >= PQ_Q_LO) & (F.col("vec_id") < PQ_Q_HI)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    pairs = corpus.withColumnRenamed("vec_id", "neighbor_id").join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    )
    d2 = F.col("n2") + F.col("qn2") - 2 * dot(F.col("v"), F.col("qv"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    truth_l2 = (
        pairs.withColumn("d2", d2)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= PQ_TOPK)
        .select("query_id", "neighbor_id")
    )

    # ONE shared scoring pass (VERDICT r5 diet): union-tag the three
    # methods' candidates and the two truth sets per method, then a
    # single semi-join + a single per-(method, query) hit count —
    # instead of three separate semi-join/groupBy/join chains that
    # each shuffled on their own. All frames here are query-set-sized.
    def _tag(df, method):
        return df.select(
            F.lit(method).alias("method"), "query_id", "neighbor_id"
        )

    # search results are NOT pinned: each is consumed exactly once
    # (the semi-join probe side), so a persist pass would only add
    # cost (the round-6 regression — see docstring)
    cands = reduce(
        lambda a, b: a.unionByName(b),
        [
            _tag(
                QUERIES[ann_name](spark, t.sf_dir).select(
                    "query_id", "neighbor_id"
                ),
                method,
            )
            for method, ann_name in (
                ("ivf", "emb_ivf_topk"),
                ("lsh", "emb_lsh_topk"),
                ("pq", "emb_pq_topk"),
            )
        ],
    )
    # truth_cos serves both ivf and lsh: tag it once via explode.
    # truths is the ONE pinned frame — consumed by both the broadcast
    # semi-join and the per-query denominator below.
    truths = pin(
        truth_cos.withColumn(
            "method", F.explode(F.array(F.lit("ivf"), F.lit("lsh")))
        )
        .select("method", "query_id", "neighbor_id")
        .unionByName(_tag(truth_l2, "pq"))
    )
    k_expr = F.when(F.col("method") == "pq", F.lit(PQ_TOPK)).otherwise(
        F.lit(ANN_K)
    )
    hits = (
        cands.join(
            F.broadcast(truths),
            ["method", "query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("method", "query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    allq = (
        truths.select("method", "query_id")
        .distinct()
        .join(F.broadcast(hits), ["method", "query_id"], "left")
        .select(
            "method",
            "query_id",
            (F.coalesce(F.col("hits"), F.lit(0)) / k_expr).alias("recall"),
        )
    )
    return allq.groupBy("method").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("recall"), 4).alias("avg_recall"),
        F.round(F.min("recall"), 4).alias("min_recall"),
    )


IVF_SWEEP_MAX = 4  # sweep nprobe 1..4 (mirrors llm_queries.IVF_NPROBE)
_IVF_LISTS = 16


def _ivf_nprobe_sweep_oracle() -> str:
    """Mirrors the registered emb_ivf_topk oracle's centroid/probe
    arithmetic; truth is the registered brute-force cosine oracle."""
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (
        SELECT vec_id AS list_id, v AS cv FROM e ORDER BY vec_id LIMIT {_IVF_LISTS}
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
    inv AS (SELECT neighbor_id, list_id FROM corpus_rank WHERE rn = 1),
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
    truth AS (
        SELECT query_id, neighbor_id FROM ({{truth_sql}}) t
    ),
    hit_rank AS (
        SELECT t.query_id, t.neighbor_id, p.pr
        FROM truth t
        JOIN inv i ON i.neighbor_id = t.neighbor_id
        JOIN probe_rank p
          ON p.query_id = t.query_id AND p.list_id = i.list_id
    ),
    sweep AS (
        SELECT n.n AS nprobe, h.query_id,
               SUM(CASE WHEN h.pr <= n.n THEN 1 ELSE 0 END) * 1.0 / {ANN_K}
                   AS recall
        FROM hit_rank h, range(1, {IVF_SWEEP_MAX + 1}) AS n(n)
        GROUP BY n.n, h.query_id
    )
    SELECT CAST(nprobe AS BIGINT) AS nprobe,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(AVG(recall), 4) AS avg_recall,
           ROUND(MIN(recall), 4) AS min_recall
    FROM sweep GROUP BY nprobe
    """


@query(
    "emb_ivf_nprobe_sweep",
    oracle=None,  # replaced below (needs the registered truth oracle)
)
def q_emb_ivf_nprobe_sweep(spark, t):
    """Recall-vs-nprobe tuning curve for the IVF index — the capacity
    planner's question ("how many lists must I probe for 95% recall?")
    answered in ONE pass: probe RANKS are computed once per
    (query, centroid), and each true top-3 neighbor's hit threshold is
    the probe rank of its inverted list, so recall at every nprobe
    falls out of a single rank comparison (no re-running the search
    per sweep point). A true neighbor enters the IVF output exactly
    when its list is probed — any candidate outscoring it is itself a
    global top-3 member — so recall@n = share of truth whose list
    rank <= n.

    Scale shape: centroids broadcast; the corpus assignment is the
    same single map-side pass emb_ivf_topk audits; everything after
    truth/probe-rank is query-set-grain (k rows per query)."""
    from ..llmdata.similarity import (
        _as_double,
        ivf_centroids,
        nearest_seed_cosine,
        dot,
        norm,
    )
    from ..operators.partitioning import ensure_parallelism

    emb = t["embeddings"]
    cents = ivf_centroids(emb, _IVF_LISTS).withColumn(
        "n_cv", norm(F.col("cv"))
    )
    # corpus assignment: centroids collected driver-side (16 tiny
    # vectors) -> zero-shuffle map-side argmax, replacing the
    # crossJoin + PARTITION BY vec window that shuffled corpus×lists
    # rows to rank 16 candidates per vector
    seeds = [
        (r["list_id"], r["cv"])
        for r in ivf_centroids(emb, _IVF_LISTS).collect()
    ]
    corpus = ensure_parallelism(
        emb.select(F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("v"))
    )
    inv = corpus.withColumn(
        "__best", nearest_seed_cosine(F.col("v"), seeds, "list_id")
    ).select("neighbor_id", F.col("__best.list_id").alias("list_id"))
    # probe ranks stay a window — the frame is query-set-sized
    # (5 queries × 16 lists), not corpus-sized
    csim = lambda vcol, ncol: dot(F.col(vcol), F.col("cv")) / (ncol * F.col("n_cv"))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv")
    )
    probe_rank_w = Window.partitionBy("query_id").orderBy(
        F.desc("__csim"), F.asc("list_id")
    )
    probe_rank = (
        q.withColumn("n_qv", norm(F.col("qv")))
        .crossJoin(F.broadcast(cents))
        .withColumn("__csim", csim("qv", F.col("n_qv")))
        .withColumn("pr", F.row_number().over(probe_rank_w))
        .select("query_id", "list_id", "pr")
    )
    truth = QUERIES["emb_cosine_topk"](spark, t.sf_dir).select(
        "query_id", "neighbor_id"
    )
    hit_rank = truth.join(inv, "neighbor_id").join(
        probe_rank, ["query_id", "list_id"]
    )
    ns = F.explode(
        F.array(*[F.lit(i) for i in range(1, IVF_SWEEP_MAX + 1)])
    ).alias("nprobe")
    sweep = (
        hit_rank.select("query_id", "pr", ns)
        .groupBy("nprobe", "query_id")
        .agg(
            (
                F.sum(F.when(F.col("pr") <= F.col("nprobe"), 1).otherwise(0))
                / ANN_K
            ).alias("recall")
        )
    )
    return sweep.groupBy(F.col("nprobe").cast("long").alias("nprobe")).agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("recall"), 4).alias("avg_recall"),
        F.round(F.min("recall"), 4).alias("min_recall"),
    )


# patch in the oracle now that the truth oracle string is available
from .corpus import ORACLES as _O  # noqa: E402

_O["emb_ivf_nprobe_sweep"] = _ivf_nprobe_sweep_oracle().format(
    truth_sql=_O["emb_cosine_topk"]
)


# Bloom-filter semi-join prefilter config: M bits, K hash rows.
# Positions are md5-derived (3 hex digits per row, one digest per
# key — the operators.sketches digit-slice scheme) so the DuckDB
# oracle recomputes the identical filter arithmetically.
BLOOM_M = 1024
BLOOM_K = 4
_BLOOM_NATION_MAX = 5  # dim predicate: suppliers with nationkey < 5


def _bloom_pos_sql(r: int) -> str:
    h = "md5('bloom:' || CAST(s_suppkey AS STRING))"
    digit = (
        "(instr('0123456789abcdef', substr({h}, {p}, 1)) - 1)"
    )
    d1 = digit.format(h=h, p=3 * r + 1)
    d2 = digit.format(h=h, p=3 * r + 2)
    d3 = digit.format(h=h, p=3 * r + 3)
    return f"(({d1} * 256 + {d2} * 16 + {d3}) % {BLOOM_M})"


def _bloom_probe_sql(r: int) -> str:
    h = "md5('bloom:' || CAST(l_suppkey AS STRING))"
    digit = (
        "(instr('0123456789abcdef', substr({h}, {p}, 1)) - 1)"
    )
    d1 = digit.format(h=h, p=3 * r + 1)
    d2 = digit.format(h=h, p=3 * r + 2)
    d3 = digit.format(h=h, p=3 * r + 3)
    return f"(({d1} * 256 + {d2} * 16 + {d3}) % {BLOOM_M})"


@query(
    "bloom_prefilter_audit",
    oracle=f"""
    WITH dim_keys AS (
        SELECT DISTINCT s_suppkey FROM supplier
        WHERE s_nationkey < {_BLOOM_NATION_MAX}
    ),
    bits AS (
        SELECT DISTINCT r.r, CASE r.r
            WHEN 0 THEN {_bloom_pos_sql(0)}
            WHEN 1 THEN {_bloom_pos_sql(1)}
            WHEN 2 THEN {_bloom_pos_sql(2)}
            ELSE {_bloom_pos_sql(3)} END AS pos
        FROM dim_keys, range(0, {BLOOM_K}) AS r(r)
    ),
    fact_keys AS (SELECT DISTINCT l_suppkey FROM lineitem),
    probes AS (
        SELECT f.l_suppkey, r.r, CASE r.r
            WHEN 0 THEN {_bloom_probe_sql(0)}
            WHEN 1 THEN {_bloom_probe_sql(1)}
            WHEN 2 THEN {_bloom_probe_sql(2)}
            ELSE {_bloom_probe_sql(3)} END AS pos
        FROM fact_keys f, range(0, {BLOOM_K}) AS r(r)
    ),
    verdict AS (
        SELECT p.l_suppkey,
               (COUNT(b.pos) = {BLOOM_K}) AS bloom_pass,
               MAX(CASE WHEN d.s_suppkey IS NOT NULL THEN 1 ELSE 0 END) = 1
                   AS true_match
        FROM probes p
        LEFT JOIN bits b ON b.r = p.r AND b.pos = p.pos
        LEFT JOIN dim_keys d ON d.s_suppkey = p.l_suppkey
        GROUP BY p.l_suppkey
    ),
    fact_counts AS (
        SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey
    )
    SELECT CAST(SUM(fc.n) AS BIGINT) AS n_fact_rows,
           CAST(SUM(CASE WHEN v.bloom_pass THEN fc.n ELSE 0 END) AS BIGINT)
               AS n_candidate_rows,
           CAST(SUM(CASE WHEN v.true_match THEN fc.n ELSE 0 END) AS BIGINT)
               AS n_true_rows,
           CAST(SUM(CASE WHEN v.bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_candidate_keys,
           CAST(SUM(CASE WHEN v.true_match THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_keys,
           ROUND(SUM(CASE WHEN v.bloom_pass AND NOT v.true_match
                          THEN 1 ELSE 0 END) * 100.0
                 / NULLIF(SUM(CASE WHEN NOT v.true_match THEN 1 ELSE 0 END), 0),
                 4) AS fp_rate_pct
    FROM verdict v JOIN fact_counts fc ON fc.l_suppkey = v.l_suppkey
    """,
)
def q_bloom_prefilter_audit(spark, t):
    """Bloom-filter semi-join reduction audit — the runtime-filter
    pattern that keeps a 100 TB fact scan from shuffling rows that a
    selective dimension predicate will discard anyway: the dim side's
    keys fold into a {BLOOM_K}x{BLOOM_M}-bit filter (kilobytes,
    broadcast), the fact side tests membership MAP-SIDE, and only
    candidates reach the join. The audit reports the reduction
    (candidate vs true rows/keys) and the false-positive rate the
    m/k sizing actually delivers. Spark's own AQE runtime bloom
    (spark.sql.optimizer.runtime.bloomFilter.enabled) does this
    transparently; the explicit form is for cross-engine parity and
    for sizing decisions.

    Scale shape: the bits frame is at most K*M rows (broadcast); the
    membership test is a key-grain groupBy (match count == K); fact
    rows are counted at supplier grain, so nothing fact-sized ever
    shuffles. md5-position arithmetic matches the oracle digit for
    digit."""
    dim_keys = (
        t["supplier"]
        .filter(F.col("s_nationkey") < _BLOOM_NATION_MAX)
        .select(F.col("s_suppkey").cast("long").alias("key"))
        .distinct()
    )

    def positions(frame, key_col):
        # digest aliased before the K-element array references it —
        # inlining would re-evaluate the md5 per element (the
        # cms_cells lesson, operators/sketches.py)
        h = F.md5(F.concat(F.lit("bloom:"), F.col(key_col).cast("string")))
        hashed = frame.select(key_col, h.alias("__h"))
        cells = F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    (
                        F.conv(F.substring(F.col("__h"), 3 * r + 1, 3), 16, 10)
                        .cast("long")
                        % BLOOM_M
                    ).alias("pos"),
                )
                for r in range(BLOOM_K)
            ]
        )
        return hashed.select(
            key_col, F.explode(cells).alias("c")
        ).select(key_col, "c.r", "c.pos")

    bits = positions(dim_keys, "key").select("r", "pos").distinct()
    fact_keys = (
        t["lineitem"]
        .select(F.col("l_suppkey").cast("long").alias("key"))
        .distinct()
    )
    probe = positions(fact_keys, "key")
    verdict = (
        probe.join(F.broadcast(bits), ["r", "pos"], "left_semi")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("k_hits"))
        .withColumn("bloom_pass", F.col("k_hits") == BLOOM_K)
        .select("key", "bloom_pass")
    )
    # keys with zero matching cells drop out of the semi join — they
    # are bloom_pass = false
    verdict = fact_keys.join(verdict, "key", "left").select(
        "key", F.coalesce("bloom_pass", F.lit(False)).alias("bloom_pass")
    )
    truth = fact_keys.join(
        dim_keys.withColumnRenamed("key", "tkey"),
        F.col("key") == F.col("tkey"),
        "left",
    ).select("key", F.col("tkey").isNotNull().alias("true_match"))
    fact_counts = (
        t["lineitem"]
        .groupBy(F.col("l_suppkey").cast("long").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = fact_counts.join(verdict, "key").join(truth, "key")
    return joined.agg(
        F.sum("n").alias("n_fact_rows"),
        F.sum(F.when(F.col("bloom_pass"), F.col("n")).otherwise(0)).alias(
            "n_candidate_rows"
        ),
        F.sum(F.when(F.col("true_match"), F.col("n")).otherwise(0)).alias(
            "n_true_rows"
        ),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias(
            "n_candidate_keys"
        ),
        F.sum(F.when(F.col("true_match"), 1).otherwise(0)).alias(
            "n_true_keys"
        ),
        F.round(
            F.sum(
                F.when(F.col("bloom_pass") & ~F.col("true_match"), 1).otherwise(0)
            )
            * 100.0
            / F.nullif(
                F.sum(F.when(~F.col("true_match"), 1).otherwise(0)), F.lit(0)
            ),
            4,
        ).alias("fp_rate_pct"),
    )


@query(
    "basket_association_rules",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_baskets AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM op),
    part_supp AS (
        SELECT l_partkey, COUNT(*) AS supp FROM op GROUP BY l_partkey
    ),
    pair_supp AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS supp
        FROM op a
        JOIN op b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    directed AS (
        SELECT part_a AS antecedent, part_b AS consequent, supp FROM pair_supp
        UNION ALL
        SELECT part_b, part_a, supp FROM pair_supp
    )
    SELECT d.antecedent, d.consequent,
           CAST(d.supp AS BIGINT) AS pair_support,
           ROUND(d.supp * 1.0 / sa.supp, 4) AS confidence,
           ROUND(d.supp * 1.0 * nb.n / (sa.supp * sb.supp), 4) AS lift
    FROM directed d
    JOIN part_supp sa ON sa.l_partkey = d.antecedent
    JOIN part_supp sb ON sb.l_partkey = d.consequent
    CROSS JOIN n_baskets nb
    ORDER BY pair_support DESC, antecedent, consequent
    LIMIT 20
    """,
)
def q_basket_association_rules(spark, t):
    """Association rules over the order log — support, confidence and
    lift for the strongest co-purchase pairs (both rule directions),
    completing basket_part_pairs: support says 'common', confidence
    says 'predictive', lift says 'beyond chance' — the triple behind
    every 'customers who bought X' surface.

    Scale shape: the fact shuffles ONCE — straight to order grain via
    groupBy(l_orderkey) + collect_set (the set union dedups in-agg, so
    no separate DISTINCT pass), and every other frame derives from the
    pinned basket arrays: basket count is a row count, part supports
    re-explode the deduped arrays (map-side combine collapses them to
    part grain), and pairs unfold MAP-SIDE from the sorted array. The
    support>=2 threshold prunes noise pairs before the part-support
    joins (part-grain frames — AQE broadcasts at small SF, shuffles on
    the part key at scale). The top-20 cut ranks by exact integer
    support with id tie-breaks, so the boundary never hinges on a
    float."""
    # three consumers (pair unfold, part supports, basket count) share
    # this order-grain frame — persist so the fact scan + shuffle run
    # once; arrays are bounded by lines-per-order, so the pinned
    # footprint is the deduped fact, never wider
    baskets0 = pin(
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    n_baskets = baskets0.agg(F.count(F.lit(1)).alias("nb"))
    part_supp = (
        baskets0.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("supp"))
    )
    baskets = baskets0.filter(F.size("parts") > 1)
    pair_expr = (
        "flatten(transform(parts, (a, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "b -> struct(a AS part_a, b AS part_b))))"
    )
    pair_supp = (
        baskets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy("p.part_a", "p.part_b")
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= 2)
    )
    directed = pair_supp.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "supp",
    ).unionByName(
        pair_supp.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "supp",
        )
    )
    sa = part_supp.select(
        F.col("l_partkey").alias("antecedent"), F.col("supp").alias("supp_a")
    )
    sb = part_supp.select(
        F.col("l_partkey").alias("consequent"), F.col("supp").alias("supp_b")
    )
    return (
        directed.join(sa, "antecedent")
        .join(sb, "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            F.col("supp").alias("pair_support"),
            F.round(F.col("supp") / F.col("supp_a"), 4).alias("confidence"),
            F.round(
                F.col("supp") * F.col("nb") / (F.col("supp_a") * F.col("supp_b")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("pair_support"), "antecedent", "consequent")
        .limit(20)
    )


@query(
    "event_disorder_profile",
    oracle="""
    WITH delayed AS (
        SELECT user_id, ts, event_id,
               epoch_us(ts)
               + ((instr('0123456789abcdef', substr(md5('arr:' || CAST(event_id AS STRING)), 1, 1)) - 1) * 4096
                  + (instr('0123456789abcdef', substr(md5('arr:' || CAST(event_id AS STRING)), 2, 1)) - 1) * 256
                  + (instr('0123456789abcdef', substr(md5('arr:' || CAST(event_id AS STRING)), 3, 1)) - 1) * 16
                  + (instr('0123456789abcdef', substr(md5('arr:' || CAST(event_id AS STRING)), 4, 1)) - 1)
                 ) % 7200 * 1000000 AS arrival_us
        FROM events WHERE user_id IS NOT NULL
    ),
    arr AS (
        SELECT user_id, ts,
               MAX(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY arrival_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS max_seen_us
        FROM delayed
    ),
    lat AS (
        SELECT max_seen_us - epoch_us(ts) AS late_us FROM arr
    ),
    bucketed AS (
        SELECT CASE
                 WHEN late_us <= 0 THEN 'a_in_order'
                 WHEN late_us <= 60::BIGINT * 1000000 THEN 'b_within_1m'
                 WHEN late_us <= 3600::BIGINT * 1000000 THEN 'c_within_1h'
                 WHEN late_us <= 86400::BIGINT * 1000000 THEN 'd_within_1d'
                 ELSE 'e_over_1d' END AS lateness_bucket
        FROM lat
    )
    SELECT lateness_bucket, COUNT(*) AS n_events,
           ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM bucketed), 4)
               AS share_pct
    FROM bucketed GROUP BY lateness_bucket
    """,
)
def q_event_disorder_profile(spark, t):
    """Out-of-orderness profile of the event log — THE input to
    watermark sizing: for each event, its lateness versus the maximum
    event time already seen in its user's ARRIVAL order, bucketed into
    the delay classes a streaming job would choose between. A
    watermark of 1h is safe exactly when the c/d/e buckets are
    acceptable-loss small; this query measures that instead of
    guessing. The synthetic log carries no transport delay (event_id
    order == time order), so arrival time is simulated as event time
    plus a DETERMINISTIC md5-derived network delay (0..2h per event,
    identical digit arithmetic in the oracle) — the standard replay
    harness for watermark logic.

    Scale shape: the running max is a key-partitioned window (user
    grain, shuffle-parallel — never global); lateness is exact integer
    microseconds; the bucket rollup is a 5-row aggregate."""
    ev = t["events"].filter(F.col("user_id").isNotNull())
    h = F.md5(F.concat(F.lit("arr:"), F.col("event_id").cast("string")))
    jitter_s = F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % 7200
    delayed = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.unix_micros("ts") + jitter_s * 1_000_000).alias("arrival_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrival_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = delayed.select(
        (
            F.max(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
        ).alias("late_us")
    )
    bucket = (
        F.when(F.col("late_us") <= 0, "a_in_order")
        .when(F.col("late_us") <= 60 * 1_000_000, "b_within_1m")
        .when(F.col("late_us") <= 3600 * 1_000_000, "c_within_1h")
        .when(F.col("late_us") <= 86400 * 1_000_000, "d_within_1d")
        .otherwise("e_over_1d")
    )
    bucketed = late.select(bucket.alias("lateness_bucket"))
    totals = bucketed.agg(F.count(F.lit(1)).alias("total"))
    return (
        bucketed.groupBy("lateness_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .crossJoin(F.broadcast(totals))
        .select(
            "lateness_bucket",
            "n_events",
            F.round(F.col("n_events") * 100.0 / F.col("total"), 4).alias(
                "share_pct"
            ),
        )
    )


@query(
    "doc_incremental_dedup",
    oracle="""
    WITH cut AS (SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS c FROM documents),
    hashed AS (
        SELECT doc_id, md5(text) AS h,
               doc_id <= (SELECT c FROM cut) AS is_old
        FROM documents
    ),
    old_hashes AS (SELECT DISTINCT h FROM hashed WHERE is_old),
    new_batch AS (SELECT doc_id, h FROM hashed WHERE NOT is_old),
    vs_old AS (
        SELECT n.doc_id, n.h,
               o.h IS NOT NULL AS dup_vs_old
        FROM new_batch n LEFT JOIN old_hashes o ON o.h = n.h
    ),
    ranked AS (
        SELECT doc_id, h, dup_vs_old,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM vs_old
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN dup_vs_old THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_vs_old,
           CAST(SUM(CASE WHEN NOT dup_vs_old AND rn > 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_dup_within_batch,
           CAST(SUM(CASE WHEN NOT dup_vs_old AND rn = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_survivors
    FROM ranked
    """,
)
def q_doc_incremental_dedup(spark, t):
    """Incremental exact dedup — the form a 100 TB corpus actually
    runs: a NEW crawl batch dedups against the settled corpus's HASH
    INDEX (never its text) plus itself, so each increment's cost is
    O(batch) + a hash-only anti-join, not a full-corpus re-dedup.
    Simulated split: docs at-or-below max(doc_id)/2 are the settled
    corpus, the rest the new batch. Reports batch size, cross-corpus
    dups, within-batch dups, and survivors.

    Scale shape: the settled side contributes only distinct md5s (the
    persisted dedup index); the batch side groups and anti-joins on
    the 32-char hash — the shuffle never carries document text."""
    docs = t["documents"]
    cut = docs.agg((F.max("doc_id") / 2).cast("long").alias("c"))
    hashed = docs.select(
        "doc_id", F.md5("text").alias("h")
    ).crossJoin(F.broadcast(cut))
    old_hashes = (
        hashed.filter(F.col("doc_id") <= F.col("c")).select("h").distinct()
    )
    new_batch = hashed.filter(F.col("doc_id") > F.col("c")).select(
        "doc_id", "h"
    )
    vs_old = new_batch.join(
        old_hashes.withColumnRenamed("h", "oh"),
        F.col("h") == F.col("oh"),
        "left",
    ).select("doc_id", "h", F.col("oh").isNotNull().alias("dup_vs_old"))
    w = Window.partitionBy("h").orderBy("doc_id")
    ranked = vs_old.withColumn("rn", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum(F.when(F.col("dup_vs_old"), 1).otherwise(0)).alias(
            "n_dup_vs_old"
        ),
        F.sum(
            F.when(~F.col("dup_vs_old") & (F.col("rn") > 1), 1).otherwise(0)
        ).alias("n_dup_within_batch"),
        F.sum(
            F.when(~F.col("dup_vs_old") & (F.col("rn") == 1), 1).otherwise(0)
        ).alias("n_survivors"),
    )


@query(
    "multi_touch_attribution",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_type, value,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS epoch
        FROM events WHERE user_id IS NOT NULL
    ),
    counts AS (
        SELECT user_id, epoch,
               SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks
        FROM tagged GROUP BY user_id, epoch
    ),
    purchases AS (
        SELECT t.user_id, t.epoch,
               CAST(ROUND(t.value * 100) AS BIGINT) * 100 AS value_e4,
               c.views, c.clicks, c.views + c.clicks AS n_touches
        FROM tagged t JOIN counts c USING (user_id, epoch)
        WHERE t.event_type = 'purchase'
    ),
    credits AS (
        SELECT 'view' AS touch_type, SUM(views) AS n_touches,
               SUM(CASE WHEN n_touches > 0
                        THEN value_e4 * views // n_touches ELSE 0 END)
                   AS credited_e4
        FROM purchases
        UNION ALL
        SELECT 'click', SUM(clicks),
               SUM(CASE WHEN n_touches > 0
                        THEN value_e4 * clicks // n_touches ELSE 0 END)
        FROM purchases
        UNION ALL
        SELECT 'unattributed', CAST(0 AS HUGEINT),
               SUM(CASE WHEN n_touches = 0 THEN value_e4 ELSE 0 END)
        FROM purchases
    )
    SELECT touch_type, CAST(n_touches AS BIGINT) AS n_touches,
           CAST(credited_e4 AS BIGINT) / 10000.0 AS credited_usd
    FROM credits
    """,
)
def q_multi_touch_attribution(spark, t):
    """Linear multi-touch attribution: each purchase's value is split
    equally across the view/click touches in its inter-purchase epoch
    (gaps-and-islands, same epoch tagging as purchase_attribution's
    last-state machine) — the marketing mart that answers 'which touch
    TYPE earns the revenue' instead of crediting only the last click.
    Purchases with no preceding touches land in 'unattributed'.

    Scale shape: the epoch tag is a user-partitioned running sum; the
    per-epoch touch counts are one grouped aggregate; credit division
    is exact integer arithmetic in 1e-4 dollars (BIGINT floor-div, so
    no float summation-order digit can differ cross-engine)."""
    ev = t["events"].filter(F.col("user_id").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    tagged = ev.select(
        "user_id", "ts", "event_type", "value",
        (F.sum(is_p).over(w) - is_p).alias("epoch"),
    )
    counts = tagged.groupBy("user_id", "epoch").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "views"
        ),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "clicks"
        ),
    )
    purchases = (
        tagged.filter(F.col("event_type") == "purchase")
        .join(counts, ["user_id", "epoch"])
        .select(
            (F.round(F.col("value") * 100).cast("long") * 100).alias(
                "value_e4"
            ),
            "views",
            "clicks",
            (F.col("views") + F.col("clicks")).alias("n_touches"),
        )
    )
    # integer floor-division end-to-end via Spark's integral `DIV`
    # operator — exact for the full BIGINT range (no 2^53 double
    # intermediate), matching the oracle's integer `//` at any epoch
    # size (ADVICE r4)
    share = lambda col: F.sum(
        F.when(
            F.col("n_touches") > 0,
            F.expr(f"(value_e4 * {col}) DIV n_touches"),
        ).otherwise(0)
    )
    view_row = purchases.agg(
        F.lit("view").alias("touch_type"),
        F.sum("views").alias("n_touches"),
        share("views").alias("credited_e4"),
    )
    click_row = purchases.agg(
        F.lit("click").alias("touch_type"),
        F.sum("clicks").alias("n_touches"),
        share("clicks").alias("credited_e4"),
    )
    unattr_row = purchases.agg(
        F.lit("unattributed").alias("touch_type"),
        F.lit(0).cast("long").alias("n_touches"),
        F.sum(
            F.when(F.col("n_touches") == 0, F.col("value_e4")).otherwise(0)
        ).alias("credited_e4"),
    )
    out = view_row.unionByName(click_row).unionByName(unattr_row)
    return out.select(
        "touch_type",
        F.col("n_touches").cast("long").alias("n_touches"),
        (F.col("credited_e4").cast("long") / 10000.0).alias("credited_usd"),
    )


@query(
    "minhash_recall_stats",
    oracle=None,  # set below: needs llm_queries' shared CTE block
)
def q_minhash_recall_stats(spark, t):
    """LSH quality contract, recall side — the companion to
    minhash_precision_stats: of the TRUE near-duplicate pairs (exact
    Jaccard >= threshold over every pair sharing at least one
    shingle), what share does MinHash banding actually surface as
    candidates. Precision tells you the verify stage's load; RECALL
    tells you what dedup silently misses — the number that decides
    bands-vs-rows retuning.

    Scale shape: truth needs the exact all-pairs-sharing-a-shingle
    join — the audit path, quadratic in per-shingle document
    frequency, deliberately NOT the production path. The truth side
    therefore runs on an EXPLICIT deterministic sample (documents
    with even doc_id — stated in the oracle too, VERDICT r6 #4):
    per-shingle document frequency halves, so the quadratic unfold
    quarters, while candidates still band the FULL corpus exactly as
    production would — recall is estimated over the sampled truth
    pairs. At 100 TB the sampling modulus is the knob (doc_id % m).
    The pair frames carry bare ids + 31-bit hash counts, never text.
    The candidate side reuses the pinned shingle-hash frame for the
    signature aggregation (one shingle pass total) and skips the
    exact-Jaccard verify: recall scores truth ∩ RAW banded candidates
    (the oracle's cand CTE), and every truth pair already shares a
    shingle, so a verify filter could never exclude one."""
    from ..llmdata.dedup import (
        _minhash_agg_hashed,
        lsh_candidate_pairs,
        minhash_band_keys,
        shingle_hash_frame,
    )
    from .llm_queries import (
        JACCARD_THRESHOLD,
        NUM_HASHES,
        ROWS_PER_BAND,
        SHINGLE_N,
    )

    docs = t["documents"]
    shb = pin(shingle_hash_frame(docs, "text", "doc_id", SHINGLE_N))
    # explicit deterministic truth sample (even doc_id) — see docstring
    shb_t = shb.filter(F.col("doc_id") % 2 == 0)
    sizes = shb_t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shb_t.select(F.col("doc_id").alias("doc_a"), "base")
    b = shb_t.select(F.col("doc_id").alias("doc_b"), "base")
    inter_all = (
        a.join(b, "base")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb_ = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    truth = (
        inter_all.join(sa, "doc_a")
        .join(sb_, "doc_b")
        .filter(
            F.col("n_common")
            / (F.col("na") + F.col("nb") - F.col("n_common"))
            >= JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
    )
    # pinned: BOTH the caught semi-join and the n_true_pairs count
    # consume truth; unpinned, each re-runs the quadratic
    # all-pairs-per-shingle join (the single most expensive stage in
    # the whole bench corpus)
    truth = pin(truth)
    sigs = _minhash_agg_hashed(shb, "doc_id", NUM_HASHES)
    bands = minhash_band_keys(sigs, "doc_id", NUM_HASHES, ROWS_PER_BAND)
    cand = lsh_candidate_pairs(bands, "doc_id")
    caught = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    n_caught = caught.agg(F.count(F.lit(1)).alias("n_caught"))
    return (
        n_truth.crossJoin(n_caught)
        .select(
            "n_true_pairs",
            "n_caught",
            F.round(
                F.col("n_caught") * 100.0
                / F.greatest(F.col("n_true_pairs"), F.lit(1)),
                4,
            ).alias("recall_pct"),
        )
    )


from .llm_queries import _MINHASH_CTES as _MHC4  # noqa: E402
from .llm_queries import JACCARD_THRESHOLD as _JT4  # noqa: E402

ORACLES["minhash_recall_stats"] = rf"""
    WITH {_MHC4},
    inter_all AS (
        -- explicit deterministic truth sample: even doc_id only (the
        -- exact all-pairs truth join is the audit's quadratic stage;
        -- candidates still band the FULL corpus below)
        SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shb s1 JOIN shb s2
          ON s2.base = s1.base AND s1.doc_id < s2.doc_id
        WHERE s1.doc_id % 2 = 0 AND s2.doc_id % 2 = 0
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT i.doc_a, i.doc_b
        FROM inter_all i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.n_common * 1.0 / (sa.n + sb.n - i.n_common) >= {_JT4}
    ),
    caught AS (
        SELECT t.doc_a, t.doc_b
        FROM truth t JOIN cand c
          ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT (SELECT COUNT(*) FROM truth) AS n_true_pairs,
           (SELECT COUNT(*) FROM caught) AS n_caught,
           ROUND((SELECT COUNT(*) FROM caught) * 100.0
                 / GREATEST((SELECT COUNT(*) FROM truth), 1), 4)
               AS recall_pct
"""


MOTIF_W = 7  # motif window length (days)
MOTIF_TOPK = 5


def _motif_terms(prefix: str) -> str:
    """c0..c6 lag columns -> fixed-order z-normalized squared distance
    SQL fragments shared by the oracle (mean/var/dist all add their 7
    terms in one explicit order — the float-SUM determinism rule)."""
    cols = [f"{prefix}{k}" for k in range(MOTIF_W)]
    mean = "(" + " + ".join(cols) + f") / {MOTIF_W}.0"
    return cols, mean


@query(
    "revenue_motif_search",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT day,
               {", ".join(f"LAG(cents, {k}) OVER (ORDER BY day) AS c{k}" for k in range(MOTIF_W))}
        FROM daily
    ),
    win AS (
        SELECT day,
               {", ".join(f"CAST(c{k} AS DOUBLE) AS c{k}" for k in range(MOTIF_W))},
               ({" + ".join(f"c{k}" for k in range(MOTIF_W))}) / {MOTIF_W}.0 AS mu
        FROM lagged WHERE c{MOTIF_W - 1} IS NOT NULL
    ),
    z AS (
        SELECT day,
               {", ".join(f"(c{k} - mu) AS d{k}" for k in range(MOTIF_W))},
               sqrt(({" + ".join(f"(c{k} - mu) * (c{k} - mu)" for k in range(MOTIF_W))}) / {MOTIF_W}.0) AS sd
        FROM win
    ),
    q AS (SELECT * FROM z ORDER BY day DESC LIMIT 1),
    dists AS (
        SELECT z.day AS window_end,
               ({" + ".join(f"(z.d{k} / z.sd - q.d{k} / q.sd) * (z.d{k} / z.sd - q.d{k} / q.sd)" for k in range(MOTIF_W))})
                   AS zdist
        FROM z, q
        WHERE z.day < q.day AND z.sd > 0 AND q.sd > 0
    )
    SELECT window_end, ROUND(zdist, 6) AS zdist
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY zdist, window_end) AS rn
          FROM dists)
    WHERE rn <= {MOTIF_TOPK}
    """,
)
def q_revenue_motif_search(spark, t):
    """Time-series subsequence similarity search (the EDBT'19
    streaming-similarity family): which historical {MOTIF_W}-day
    revenue windows most resemble the LATEST one, by z-normalized
    Euclidean distance — the motif query behind 'when did demand last
    look like this week', feeding forecasting model choice and anomaly
    triage.

    Scale shape: the series aggregates to DAY grain first (exact
    integer cents); windows materialize as {MOTIF_W} LAG columns over
    the bounded calendar frame (day-grain unpartitioned window — the
    documented allowlist class); the query window is ONE broadcast
    row; every mean/variance/distance adds its {MOTIF_W} terms in one
    explicit expression order on both engines (no float-SUM
    merge-order sensitivity); top-k is a rank over the day-grain
    distance frame."""
    daily = t["orders"].groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        *[F.lag("cents", k).over(w).alias(f"c{k}") for k in range(MOTIF_W)],
    ).filter(F.col(f"c{MOTIF_W - 1}").isNotNull())
    cast_cols = [F.col(f"c{k}").cast("double").alias(f"c{k}") for k in range(MOTIF_W)]
    win = lagged.select("day", *cast_cols)
    mu = sum(
        (F.col(f"c{k}") for k in range(1, MOTIF_W)), F.col("c0")
    ) / float(MOTIF_W)
    win = win.withColumn("mu", mu)
    dcols = [(F.col(f"c{k}") - F.col("mu")).alias(f"d{k}") for k in range(MOTIF_W)]
    zf = win.select("day", *dcols)
    var = sum(
        (F.col(f"d{k}") * F.col(f"d{k}") for k in range(1, MOTIF_W)),
        F.col("d0") * F.col("d0"),
    ) / float(MOTIF_W)
    # Pick the query window BEFORE any sd filter (mirrors the oracle's
    # ``q AS (SELECT * FROM z ORDER BY day DESC LIMIT 1)``) — the sd>0
    # guards apply to BOTH sides only in the candidate filter, so a
    # flat newest window yields 0 rows on both engines identically.
    zf = zf.withColumn("sd", F.sqrt(var))
    q = zf.orderBy(F.desc("day")).limit(1).select(
        F.col("day").alias("qday"),
        F.col("sd").alias("qsd"),
        *[F.col(f"d{k}").alias(f"qd{k}") for k in range(MOTIF_W)],
    )
    cand = (
        zf.crossJoin(F.broadcast(q))
        .filter(
            (F.col("day") < F.col("qday"))
            & (F.col("sd") > 0)
            & (F.col("qsd") > 0)
        )
    )
    terms = [
        (F.col(f"d{k}") / F.col("sd") - F.col(f"qd{k}") / F.col("qsd"))
        * (F.col(f"d{k}") / F.col("sd") - F.col(f"qd{k}") / F.col("qsd"))
        for k in range(MOTIF_W)
    ]
    zdist = sum(terms[1:], terms[0])
    ranked = cand.select(
        F.col("day").alias("window_end"), zdist.alias("zdist")
    )
    rw = Window.orderBy("zdist", "window_end")
    return (
        ranked.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") <= MOTIF_TOPK)
        .select("window_end", F.round("zdist", 6).alias("zdist"))
    )
