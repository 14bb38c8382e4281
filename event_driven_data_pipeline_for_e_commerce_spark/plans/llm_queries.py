"""LLM-data-pipeline query corpus (SURVEY.md §7.2 M7): dedup,
similarity search, text analysis over the ``documents`` /
``embeddings`` tables — each hash-checked against a DuckDB oracle.

Registered into the same QUERIES/ORACLES registry as the relational
corpus (imported at the end of ``corpus.py``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..llmdata.dedup import exact_dedup, minhash_near_duplicates, ngram_shingles, simhash
from ..llmdata.similarity import (
    brute_force_topk,
    cosine_near_duplicates,
    hyperplanes,
    ivf_topk,
    lsh_topk,
)
from ..operators.partitioning import ensure_parallelism
from ..llmdata.text import (
    bpe_ish_token_count,
    document_fingerprints,
    language_guess,
    quality_features,
    token_count,
)
from .corpus import query

# shared MinHash-LSH configuration (chosen against the testdata's
# near-dup structure: 2-gram shingles separate the ~25 true near-dup
# pairs (j≥0.4) from the noise floor (p99.9 ≈ 0.10))
SHINGLE_N = 2
NUM_HASHES = 12
# 12 hashes / 3 rows per band = 4 bands: at the 0.4 Jaccard target this
# keeps P(candidate) high for true near-dups (≈0.81 at s=0.7) while
# cutting low-similarity junk candidates ~15x vs 2-row bands — the
# candidate-join + verify volume is what dominates cost at scale.
ROWS_PER_BAND = 3
JACCARD_THRESHOLD = 0.4

# embedding LSH configuration: 4 tables × 4 planes (OR-amplification
# across tables recovers the recall that 8 AND-ed planes destroy on
# unclustered vectors: 1-(1-p^4)^4 vs p^8)
N_PLANES = 4
N_TABLES = 4
EMB_DIM = 64


def _planes_sql_literal(planes: list[list[float]]) -> str:
    rows = ", ".join("[" + ", ".join(repr(x) for x in p) + "]" for p in planes)
    return f"[{rows}]"


@query(
    "doc_exact_dedup",
    oracle="""
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_doc_id, count(*) AS copies
    FROM (SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 1000000, text FROM documents)
    GROUP BY md5(text)
    """,
)
def q_doc_exact_dedup(spark, t):
    """Exact dedup by content hash under a duplicated corpus (each doc
    replayed once with a shifted id): one keeper per distinct text."""
    docs = ensure_parallelism(t["documents"].select("doc_id", "text"))
    replayed = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return exact_dedup(replayed, "text", "doc_id")


@query(
    "doc_token_stats",
    oracle=r"""
    SELECT lang,
           count(*) AS doc_cnt,
           CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS total_tokens,
           ROUND(AVG(len(string_split_regex(lower(trim(text)), '\s+'))), 4) AS avg_tokens,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS total_bpe_tokens
    FROM documents GROUP BY lang
    """,
)
def q_doc_token_stats(spark, t):
    """Token counting per language: whitespace tokens + BPE-ish subword
    proxy (alnum runs + punctuation)."""
    return (
        ensure_parallelism(t["documents"])
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("doc_cnt"),
            F.sum(token_count("text")).alias("total_tokens"),
            F.round(F.avg(token_count("text")), 4).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.sum(bpe_ish_token_count("text")).alias("total_bpe_tokens"),
        )
    )


@query(
    "doc_quality_scores",
    oracle=r"""
    WITH f AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS toks,
               length(text) AS n_chars,
               length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS punct_cnt
        FROM documents
    ),
    g AS (
        SELECT doc_id, len(toks) AS n_tokens, n_chars, punct_cnt,
               len(list_filter(toks, t -> list_contains(['the','a','and','of','to','in','is'], t))) AS stop_cnt
        FROM f
    )
    SELECT doc_id, n_tokens,
           ROUND(stop_cnt * 1.0 / n_tokens, 4) AS stop_ratio,
           ROUND(punct_cnt * 1.0 / n_chars, 4) AS punct_ratio,
           ROUND(0.4 * LEAST(n_tokens / 100.0, 1.0)
                 + 0.3 * (stop_cnt * 1.0 / n_tokens)
                 + 0.3 * (1 - punct_cnt * 1.0 / n_chars), 4) AS quality_score
    FROM g
    """,
)
def q_doc_quality_scores(spark, t):
    """Per-document quality features: length, stopword ratio,
    punctuation ratio, composite score."""
    feats = quality_features("text")
    return ensure_parallelism(t["documents"]).select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["stop_ratio"].alias("stop_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["quality_score"].alias("quality_score"),
    )


@query(
    "doc_language_id",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents
    ),
    hits AS (
        SELECT doc_id, lang,
            len(list_filter(w, t -> list_contains(['der','die','das','und','ist'], t))) AS h_de,
            len(list_filter(w, t -> list_contains(['the','and','of','to','is'], t))) AS h_en,
            len(list_filter(w, t -> list_contains(['el','la','los','y','es'], t))) AS h_es,
            len(list_filter(w, t -> list_contains(['le','les','et','est','une'], t))) AS h_fr,
            len(list_filter(w, t -> list_contains(['的','是','了','在','我'], t))) AS h_zh
        FROM toks
    ),
    pred AS (
        SELECT doc_id, lang,
               CASE WHEN h_de = GREATEST(h_de,h_en,h_es,h_fr,h_zh) THEN 'de'
                    WHEN h_en = GREATEST(h_de,h_en,h_es,h_fr,h_zh) THEN 'en'
                    WHEN h_es = GREATEST(h_de,h_en,h_es,h_fr,h_zh) THEN 'es'
                    WHEN h_fr = GREATEST(h_de,h_en,h_es,h_fr,h_zh) THEN 'fr'
                    ELSE 'zh' END AS predicted_lang
        FROM hits
    )
    SELECT lang, predicted_lang, count(*) AS cnt
    FROM pred GROUP BY lang, predicted_lang
    """,
)
def q_doc_language_id(spark, t):
    """Language-ID heuristic (stopword hits, alphabetical tie-break):
    confusion matrix actual × predicted."""
    return (
        ensure_parallelism(t["documents"])
        .withColumn("predicted_lang", language_guess("text"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "doc_fingerprints",
    oracle=r"""
    SELECT doc_id,
           md5(lower(trim(text))) AS fp_full,
           md5(array_to_string(string_split_regex(lower(trim(text)), '\s+')[1:5], ' ')) AS fp_prefix
    FROM documents
    """,
)
def q_doc_fingerprints(spark, t):
    """Document fingerprinting: normalized content hash + 5-token
    prefix fingerprint."""
    fps = document_fingerprints("text")
    return ensure_parallelism(t["documents"]).select(
        "doc_id", fps["fp_full"].alias("fp_full"), fps["fp_prefix"].alias("fp_prefix")
    )


@query(
    "doc_simhash",
    oracle=r"""
    WITH tok AS (
        SELECT DISTINCT doc_id, t.tok
        FROM documents, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS t(tok)
    ),
    tb AS (
        SELECT doc_id, md5(tok) AS h, b.b
        FROM tok, UNNEST(generate_series(0, 15)) AS b(b)
    ),
    contrib AS (
        SELECT doc_id, b,
               CASE WHEN (CAST(FLOOR((instr('0123456789abcdef', substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
                          / CAST(POW(2, b % 4) AS BIGINT)) AS BIGINT)) % 2 = 1
                    THEN 1 ELSE -1 END AS c
        FROM tb
    ),
    per_bit AS (SELECT doc_id, b, SUM(c) AS s FROM contrib GROUP BY doc_id, b)
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(POW(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
    FROM per_bit GROUP BY doc_id
    """,
)
def q_doc_simhash(spark, t):
    """SimHash fingerprint (16-bit, md5-hex-digit bit extraction)."""
    return simhash(t["documents"], "text", "doc_id", bits=16)


# MinHash pipeline CTEs, shared by the pair query's oracle and the
# cluster query's oracle (which adds a recursive CC on top)
_MINHASH_CTES = rf"""toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+{SHINGLE_N - 1}], ' ') AS shingle
        FROM toks, UNNEST(generate_series(1, len(w) - {SHINGLE_N - 1})) AS u(i)
        WHERE len(w) >= {SHINGLE_N}
    ),
    sb AS (
        SELECT doc_id, shingle,
               CAST(list_sum(list_transform(generate_series(1, 8),
                   k -> (instr('0123456789abcdef', substr(md5(shingle), k, 1)) - 1)
                        * 16 ** (8 - k))) AS BIGINT) % 2147483647 AS base
        FROM sh
    ),
    mh AS (
        SELECT doc_id, h.hi,
               MIN(((2 * h.hi + 1) * base + 1000003 * h.hi) % 2147483647) AS sig
        FROM sb, UNNEST(generate_series(1, {NUM_HASHES})) AS h(hi)
        GROUP BY doc_id, h.hi
    ),
    bands AS (
        SELECT doc_id, CAST(CEIL(hi / {ROWS_PER_BAND}.0) AS INT) AS band,
               string_agg(CAST(sig AS STRING), '|' ORDER BY hi) AS band_key
        FROM mh GROUP BY doc_id, CAST(CEIL(hi / {ROWS_PER_BAND}.0) AS INT)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    shb AS (SELECT DISTINCT doc_id, base FROM sb),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cand c
        JOIN shb s1 ON s1.doc_id = c.doc_a
        JOIN shb s2 ON s2.doc_id = c.doc_b AND s2.base = s1.base
        GROUP BY c.doc_a, c.doc_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shb GROUP BY doc_id)"""


@query(
    "doc_minhash_near_dup",
    oracle=rf"""
    WITH {_MINHASH_CTES}
    SELECT i.doc_a, i.doc_b,
           ROUND(i.n_common * 1.0 / (sa.n + sb.n - i.n_common), 4) AS jaccard
    FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_common * 1.0 / (sa.n + sb.n - i.n_common) >= {JACCARD_THRESHOLD}
    """,
)
def q_doc_minhash_near_dup(spark, t):
    """MinHash+LSH near-duplicate detection: shingle → 12-hash MinHash
    signature → 6 bands → candidate equi-join → exact-Jaccard verify."""
    return minhash_near_duplicates(
        t["documents"], "text", "doc_id",
        n=SHINGLE_N, num_hashes=NUM_HASHES,
        rows_per_band=ROWS_PER_BAND, threshold=JACCARD_THRESHOLD,
    )


@query(
    "doc_dup_clusters",
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
    )
    SELECT node AS doc_id,
           MIN(label) AS cluster_id,
           MIN(label) = node AS is_canonical
    FROM reach GROUP BY node
    """,
)
def q_doc_dup_clusters(spark, t):
    """Duplicate CLUSTERS, not just pairs: connected components over
    the MinHash near-dup graph (near-dup similarity isn't transitive,
    so chain dedup needs the closure), via iterative min-label
    propagation with pointer jumping (llmdata/dedup.duplicate_clusters).
    Genuinely iterative — the oracle needs a recursive CTE; Spark runs
    O(log diameter) join rounds. Every doc appears: singletons are
    their own canonical cluster."""
    from ..llmdata.dedup import duplicate_clusters

    docs = ensure_parallelism(t["documents"])
    pairs = minhash_near_duplicates(
        docs, "text", "doc_id",
        n=SHINGLE_N, num_hashes=NUM_HASHES,
        rows_per_band=ROWS_PER_BAND, threshold=JACCARD_THRESHOLD,
    )
    return duplicate_clusters(pairs, docs.select("doc_id"))


@query(
    "doc_ngram_jaccard_pairs",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS u(i)
        WHERE len(w) >= 3
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND a.shingle = b.shingle
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
    SELECT doc_a, doc_b,
           ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
    """,
)
def q_doc_ngram_jaccard_pairs(spark, t):
    """Plain n-gram Jaccard (3-gram) between consecutive doc pairs —
    the exact-similarity primitive without LSH. Per-doc distinct
    shingle ARRAYS are built map-side and the consecutive-pair join is
    one id equi-join carrying a single bounded-width array row per doc
    (no shingle-grain shuffle, nothing persisted); the intersection is
    a map-side array_intersect. Pairs with zero common shingles (and
    docs too short to shingle — empty arrays) drop out exactly as the
    oracle's match-requiring join does."""
    from ..llmdata.dedup import shingle_array

    d = ensure_parallelism(t["documents"]).select(
        "doc_id", shingle_array("text", 3).alias("arr")
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a"))
    b = d.select(
        (F.col("doc_id") - 1).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("arr").alias("arr_b"),
    )
    n_common = F.size(F.array_intersect("arr_a", "arr_b"))
    return (
        a.join(b, "doc_a")
        .withColumn("n_common", n_common)
        .filter(F.col("n_common") >= 1)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.size("arr_a") + F.size("arr_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )


@query(
    "emb_cosine_topk",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
    pairs AS (
        SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
               list_dot_product(e.v, q.qv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS sim
        FROM e, q WHERE e.vec_id <> q.qid
    )
    SELECT query_id, neighbor_id, ROUND(sim, 6) AS cos_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) rn
          FROM pairs)
    WHERE rn <= 3
    """,
)
def q_emb_cosine_topk(spark, t):
    """Brute-force cosine top-k over the embedding column — exact ANN
    baseline (higher-order aggregate/zip_with, no UDF)."""
    emb = t["embeddings"]
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)


def _lsh_oracle() -> str:
    planes = hyperplanes(EMB_DIM, N_PLANES, N_TABLES)
    lits = _planes_sql_literal(planes)
    n_total = N_PLANES * N_TABLES
    return f"""
    WITH planes AS (
        SELECT i, CAST((i - 1) // {N_PLANES} AS INT) AS tbl, p
        FROM (SELECT UNNEST({lits}) AS p,
                     UNNEST(generate_series(1, {n_total})) AS i)
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sig AS (
        SELECT e.vec_id, e.v, pl.tbl,
               string_agg(CASE WHEN list_dot_product(e.v, pl.p) >= 0 THEN '1' ELSE '0' END,
                          '' ORDER BY pl.i) AS bucket
        FROM e, planes pl GROUP BY e.vec_id, e.v, pl.tbl
    ),
    q AS (SELECT vec_id AS qid, v AS qv, tbl, bucket FROM sig WHERE vec_id < 5),
    cand AS (
        SELECT DISTINCT q.qid AS query_id, s.vec_id AS neighbor_id
        FROM sig s JOIN q ON s.tbl = q.tbl AND s.bucket = q.bucket AND s.vec_id <> q.qid
    ),
    pairs AS (
        SELECT c.query_id, c.neighbor_id,
               list_dot_product(ev.v, qv.v)
               / (sqrt(list_dot_product(ev.v, ev.v)) * sqrt(list_dot_product(qv.v, qv.v))) AS sim
        FROM cand c
        JOIN e ev ON ev.vec_id = c.neighbor_id
        JOIN e qv ON qv.vec_id = c.query_id
    )
    SELECT query_id, neighbor_id, ROUND(sim, 6) AS cos_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) rn
          FROM pairs)
    WHERE rn <= 3
    """


def _cosine_near_dup_oracle(threshold: float) -> str:
    planes = hyperplanes(EMB_DIM, N_PLANES, N_TABLES)
    lits = _planes_sql_literal(planes)
    n_total = N_PLANES * N_TABLES
    return f"""
    WITH planes AS (
        SELECT i, CAST((i - 1) // {N_PLANES} AS INT) AS tbl, p
        FROM (SELECT UNNEST({lits}) AS p,
                     UNNEST(generate_series(1, {n_total})) AS i)
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sig AS (
        SELECT e.vec_id, e.v, pl.tbl,
               string_agg(CASE WHEN list_dot_product(e.v, pl.p) >= 0 THEN '1' ELSE '0' END,
                          '' ORDER BY pl.i) AS bucket
        FROM e, planes pl GROUP BY e.vec_id, e.v, pl.tbl
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM sig a JOIN sig b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    sims AS (
        SELECT c.id_a, c.id_b,
               ROUND(list_dot_product(ea.v, eb.v)
                     / (sqrt(list_dot_product(ea.v, ea.v))
                        * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cos_sim
        FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
    )
    SELECT id_a, id_b, cos_sim FROM sims WHERE cos_sim >= {threshold}
    """


COSINE_DUP_THRESHOLD = 0.45  # testdata vectors are unclustered (max pair ~0.6)


@query("emb_cosine_near_dup", oracle=_cosine_near_dup_oracle(COSINE_DUP_THRESHOLD))
def q_emb_cosine_near_dup(spark, t):
    """Embedding-cosine near-duplicate pairs — LSH-bucketed candidates
    (one equi-join, never O(n²)) + exact-cosine verify ≥ threshold;
    the embedding-space sibling of doc_minhash_near_dup."""
    planes = hyperplanes(EMB_DIM, N_PLANES, N_TABLES)
    return cosine_near_duplicates(
        t["embeddings"], planes, n_tables=N_TABLES, threshold=COSINE_DUP_THRESHOLD
    )


IVF_LISTS = 16
IVF_NPROBE = 4


def _ivf_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (
        SELECT vec_id AS list_id, v AS cv FROM e ORDER BY vec_id LIMIT {IVF_LISTS}
    ),
    corpus_rank AS (
        SELECT e.vec_id AS neighbor_id, e.v, c.list_id,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cv)
                            / (sqrt(list_dot_product(e.v, e.v))
                               * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                            c.list_id
               ) AS rn
        FROM e, cents c
    ),
    inv AS (SELECT neighbor_id, v, list_id FROM corpus_rank WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    probe_rank AS (
        SELECT q.query_id, q.qv, c.list_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_dot_product(q.qv, c.cv)
                            / (sqrt(list_dot_product(q.qv, q.qv))
                               * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                            c.list_id
               ) AS rn
        FROM q, cents c
    ),
    probes AS (SELECT query_id, qv, list_id FROM probe_rank WHERE rn <= {IVF_NPROBE}),
    cand AS (
        SELECT DISTINCT p.query_id, i.neighbor_id, i.v, p.qv
        FROM inv i JOIN probes p ON i.list_id = p.list_id
        WHERE i.neighbor_id <> p.query_id
    ),
    sims AS (
        SELECT query_id, neighbor_id,
               list_dot_product(v, qv)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
        FROM cand
    )
    SELECT query_id, neighbor_id, ROUND(sim, 6) AS cos_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) rn
          FROM sims)
    WHERE rn <= 3
    """


@query("emb_ivf_topk", oracle=_ivf_oracle())
def q_emb_ivf_topk(spark, t):
    """IVF approximate top-k — inverted-list partitioning by nearest
    coarse centroid, nprobe multi-probe, exact rerank on candidates
    only (the other classic ANN scale path next to LSH)."""
    emb = t["embeddings"]
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5),
        n_lists=IVF_LISTS, nprobe=IVF_NPROBE, k=3,
    )


@query("emb_lsh_topk", oracle=_lsh_oracle())
def q_emb_lsh_topk(spark, t):
    """Random-hyperplane LSH approximate top-k: candidates restricted
    to the query's sign-pattern bucket (the 100 TB scale path; seeded
    hyperplanes shared with the oracle)."""
    emb = t["embeddings"]
    planes = hyperplanes(EMB_DIM, N_PLANES, N_TABLES)
    return lsh_topk(emb, emb.filter(F.col("vec_id") < 5), planes, k=3, n_tables=N_TABLES)


@query(
    "emb_label_centroids",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pos AS (
        SELECT label, u.i AS pos, v[u.i] AS x
        FROM e, UNNEST(generate_series(1, len(v))) AS u(i)
    ),
    cent AS (SELECT label, pos, AVG(x) AS cx FROM pos GROUP BY label, pos),
    agg AS (SELECT label, SQRT(SUM(cx * cx)) AS cnorm FROM cent GROUP BY label)
    SELECT a.label, n.n_vectors, ROUND(a.cnorm, 6) AS centroid_norm
    FROM agg a JOIN (SELECT label, count(*) AS n_vectors FROM e GROUP BY label) n
      ON a.label = n.label
    """,
)
def q_emb_label_centroids(spark, t):
    """Per-label centroid norms — element-wise vector aggregation via
    posexplode + groupBy (the distributed mean-vector shape)."""
    e = t["embeddings"].select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    pos = e.select("label", F.posexplode("v").alias("pos", "x"))
    cent = pos.groupBy("label", "pos").agg(F.avg("x").alias("cx"))
    aggd = cent.groupBy("label").agg(F.sqrt(F.sum(F.col("cx") * F.col("cx"))).alias("cnorm"))
    counts = t["embeddings"].groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    return aggd.join(counts, "label").select(
        "label", "n_vectors", F.round("cnorm", 6).alias("centroid_norm")
    )


# --------------------------------------------------------------------------
# ST6 sessionization (batch form; streaming variant in streaming.streams)
# --------------------------------------------------------------------------

@query(
    "session_windows",
    oracle="""
    WITH flags AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         < INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS new_sess
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flags
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def q_session_windows(spark, t):
    """ST6 sessionization via session_window (30-min gap): the README's
    claimed capability realized natively. Oracle reproduces Spark's
    half-open [start, last+gap) semantics with a lag/cumsum rewrite."""
    from ..streaming.streams import sessionize

    return sessionize(t["events"], gap="30 minutes")


# --------------------------------------------------------------------------
# Training-data preparation beyond the mandated operator list: chunking
# and deterministic dataset splitting — the two steps every corpus
# pipeline runs between dedup/quality-filter and training
# --------------------------------------------------------------------------


@query(
    "doc_chunks",
    oracle="""
    SELECT d.doc_id,
           (s.start - 1) // 150 AS chunk_no,
           substr(d.text, CAST(s.start AS BIGINT), 200) AS chunk,
           length(substr(d.text, CAST(s.start AS BIGINT), 200)) AS chunk_len
    FROM documents d,
         UNNEST(generate_series(1, greatest(length(d.text), 1), 150)) AS s(start)
    """,
)
def q_doc_chunks(spark, t):
    """Overlapping fixed-width chunking (200-char windows, stride 150
    → 50-char overlap), the context-window prep step for training
    corpora. sequence+posexplode is pure map-side row expansion: no
    shuffle, no Python, and at 100 TB each scan split chunks its own
    documents independently."""
    return (
        ensure_parallelism(t["documents"])
        .select(
            "doc_id",
            "text",
            F.posexplode(
                F.expr("sequence(1, greatest(length(text), 1), 150)")
            ).alias("chunk_no", "start"),
        )
        .select(
            "doc_id",
            F.col("chunk_no").cast("long").alias("chunk_no"),
            F.expr("substr(text, start, 200)").alias("chunk"),
            F.expr("length(substr(text, start, 200))").alias("chunk_len"),
        )
    )


@query(
    "doc_train_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS STRING)), 1, 2) < 'cc'
                THEN 'train' ELSE 'eval' END AS split
    FROM documents
    """,
)
def q_doc_train_split(spark, t):
    """Deterministic hash-based train/eval split (~80/20 via the first
    md5 byte < 0xcc). Unlike randomSplit this is stable across runs,
    engines, partitionings, and re-executions — the property a
    reproducible training pipeline needs — and it's a pure projection:
    no shuffle, no sampling pass."""
    return ensure_parallelism(t["documents"]).select(
        "doc_id",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cc",
            "train",
        )
        .otherwise("eval")
        .alias("split"),
    )


@query(
    "doc_tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, t.tok
        FROM documents, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS t(tok)
        WHERE length(trim(text)) > 0
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               (tf.tf * (n.n_docs + 1.0)) / (df.df + 1) AS tfidf,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY (tf.tf * (n.n_docs + 1.0)) / (df.df + 1) DESC,
                                           tf.tok) AS rn
        FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf, rn FROM scored WHERE rn <= 3
    """,
)
def q_doc_tfidf_top_terms(spark, t):
    """Per-document top-3 TF-IDF terms. The rational idf form
    tf*(N+1)/(df+1) (no log) keeps the score an identical IEEE double
    in both engines — ln() last-ulp divergence would break hash parity.
    Plan shape at scale: one explode → two partial-agg groupBys (tf,
    df), a broadcastable df join (|vocab| << corpus), and a per-doc
    top-k window; the N scalar rides a 1-row broadcast cross join."""
    docs = ensure_parallelism(t["documents"])
    toks = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
        )
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("tf") * (F.col("n_docs") + F.lit(1.0))) / (F.col("df") + 1),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tfidf", "rn")
    )


@query(
    "doc_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS STRING)), 1, 2)
          < CASE WHEN lang = 'en' THEN '33' ELSE '80' END
    """,
)
def q_doc_stratified_sample(spark, t):
    """Stratified sampling with per-stratum fractions (sampleBy's
    deterministic twin): ~20% of English docs, ~50% of everything else,
    selected by the first md5 byte of the id — reproducible across
    runs/engines/partitionings, pure map-side filter, no sampling
    pass."""
    return ensure_parallelism(t["documents"]).filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
        < F.when(F.col("lang") == "en", "33").otherwise("80")
    ).select("doc_id", "lang")


@query(
    "doc_quality_filter",
    oracle=r"""
    WITH f AS (
        SELECT doc_id, lang,
               string_split_regex(lower(trim(text)), '\s+') AS toks,
               length(text) AS n_chars,
               length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS punct_cnt
        FROM documents
    ),
    g AS (
        SELECT doc_id, lang,
               ROUND(0.4 * LEAST(len(toks) / 100.0, 1.0)
                     + 0.3 * (len(list_filter(toks,
                           t -> list_contains(['the','a','and','of','to','in','is'], t)))
                         * 1.0 / len(toks))
                     + 0.3 * (1 - punct_cnt * 1.0 / n_chars), 4) AS quality_score
        FROM f
    ),
    r AS (
        SELECT doc_id, lang, quality_score,
               PERCENT_RANK() OVER (PARTITION BY lang
                                    ORDER BY quality_score, doc_id) AS pr
        FROM g
    )
    SELECT doc_id, lang, quality_score FROM r WHERE pr >= 0.25
    """,
)
def q_doc_quality_filter(spark, t):
    """Quantile quality filtering: drop each language's bottom quartile
    by composite quality score. The threshold is a rank RATIO
    (percent_rank = (rank-1)/(n-1), exact integer division) rather than
    an interpolated quantile VALUE — engines interpolate quantiles
    differently, rank ratios are bit-identical. One window shuffle per
    lang partition; the filter is map-side after it."""
    feats = quality_features("text")
    scored = ensure_parallelism(t["documents"]).select(
        "doc_id", "lang", feats["quality_score"].alias("quality_score")
    )
    w = Window.partitionBy("lang").orderBy("quality_score", "doc_id")
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= 0.25)
        .select("doc_id", "lang", "quality_score")
    )


# --------------------------------------------------------------------------
# Multimodal columns (SURVEY.md build mandate; llmdata/multimodal.py):
# binary payloads + typed metadata, decoded via Arrow-batched mapInPandas.
# The testdata has no binary table, so the media frame is DERIVED
# deterministically from documents (payload = UTF-8 bytes of the text,
# media_type round-robins on doc_id) — the oracle reproduces the byte
# semantics with length()/md5() because the corpus text is ASCII
# (byte length == char length, verified at both SFs).
# --------------------------------------------------------------------------


def _media_frame(t):
    """documents -> MEDIA_SCHEMA-shaped frame (deterministic derivation)."""
    return t["documents"].select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            ((F.col("doc_id") % 3) + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
    )


@query(
    "media_feature_extract",
    oracle="""
    SELECT CASE CAST(doc_id % 3 AS BIGINT)
             WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
           COUNT(*) AS media_cnt,
           CAST(SUM(length(text)) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT md5(substr(text, 1, 16))) AS distinct_heads
    FROM documents
    GROUP BY media_type
    """,
)
def q_media_feature_extract(spark, t):
    """Multimodal decode plumbing end-to-end: binary payload column ->
    Arrow-batched mapInPandas feature extraction (deterministic fake
    decoder — byte stats + head hash) -> per-media-type rollup.

    The mapInPandas stage is the genuinely non-SQL part; its OUTPUT is
    still oracle-checkable because the fake decoder's features
    (n_bytes, md5 of the first 16 bytes) have exact SQL twins on ASCII
    text. Zero shuffles until the final 3-group aggregate; payloads
    stream through Python as Arrow batches, never row-at-a-time."""
    from ..llmdata.multimodal import decode_image_features

    feats = decode_image_features(
        ensure_parallelism(_media_frame(t)), fake=True
    )
    return feats.groupBy("media_type").agg(
        F.count("*").alias("media_cnt"),
        F.sum("n_bytes").alias("total_bytes"),
        F.countDistinct("head_hash").alias("distinct_heads"),
    )


@query(
    "video_frame_grid",
    oracle="""
    SELECT d.doc_id AS media_id,
           CAST(t.i * 1000 AS BIGINT) AS frame_ms
    FROM documents d, range(0, 64) t(i)
    WHERE CAST(d.doc_id % 3 AS BIGINT) = 2
      AND t.i * 1000 <= d.n_chars * 10
    """,
)
def q_video_frame_grid(spark, t):
    """Video frame-sampling plumbing: per-video timestamp grid via
    native sequence()+explode (llmdata/multimodal.sample_frames) — the
    decode of each sampled frame would slot into the same mapInPandas
    as media_feature_extract. Map-side only: no shuffle, the explode
    fans out inside the scan stage.

    Oracle portability: constant-bound ``range(0, 64) t(i)`` + a
    duration filter replaces the computed-bound generate_series (the
    bounded-series precedent; both engines run it verbatim). 64
    frames = 10x headroom over the corpus's ~6-frame max (doc length
    is generator-capped ~600 chars at any SF); verified
    output-identical in DuckDB before/after at sf0.01 AND sf0.1.
    tests/test_oracle_bounds.py guards the bound at the source: it
    fails loudly when the observed max frame index passes 80% of the
    constant, instead of letting the oracle silently truncate."""
    from ..llmdata.multimodal import sample_frames

    return sample_frames(_media_frame(t), every_ms=1000)


# --------------------------------------------------------------------------
# Training-data hygiene ops: PII redaction, repetition scoring,
# benchmark decontamination — the filter/flag passes a pretraining
# pipeline runs between dedup and tokenization.
# --------------------------------------------------------------------------


@query(
    "doc_pii_redact",
    oracle="""
    WITH pii AS (
        SELECT doc_id,
               'contact ' || source || CAST(doc_id AS STRING) || '@example.com call 555-'
                 || lpad(CAST(doc_id * 7919 % 10000 AS STRING), 4, '0') || ' ' || text AS raw
        FROM documents
    )
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(raw, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                              '555-[0-9]{4}', '<PHONE>', 'g')) AS red_hash,
           CAST(len(regexp_extract_all(raw, '[a-z0-9._]+@[a-z0-9.]+')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '555-[0-9]{4}')) AS INT) AS n_phones
    FROM pii
    """,
)
def q_doc_pii_redact(spark, t):
    """PII redaction pass (llmdata/text.redact_pii): the corpus text is
    synthetic word-salad with no PII, so each doc is first salted with
    a deterministic email + phone (derived from doc_id/source) and the
    redactor must find and mask exactly those spans. Output is the md5
    of the redacted text (byte parity with the oracle) plus per-type
    redaction counts. Map-side only — regexp codegen, no shuffle."""
    from ..llmdata.text import redact_pii

    raw = F.concat(
        F.lit("contact "),
        F.col("source"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com call 555-"),
        F.lpad((F.col("doc_id") * 7919 % 10000).cast("string"), 4, "0"),
        F.lit(" "),
        F.col("text"),
    )
    red = redact_pii(raw)
    return ensure_parallelism(t["documents"]).select(
        "doc_id",
        F.md5(red["redacted"]).alias("red_hash"),
        red["n_emails"].alias("n_emails"),
        red["n_phones"].alias("n_phones"),
    )


@query(
    "doc_repetition_ratio",
    oracle="""
    WITH d AS (
        SELECT doc_id, text,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_toks
        FROM documents
    ),
    bg AS (
        SELECT d.doc_id,
               split_part(d.text, ' ', CAST(t.i AS INT)) || ' '
                   || split_part(d.text, ' ', CAST(t.i + 1 AS INT)) AS bigram
        FROM d, range(1, 512) t(i)
        WHERE t.i <= d.n_toks - 1
    ),
    cnt AS (
        SELECT doc_id, bigram, COUNT(*) AS c
        FROM bg GROUP BY doc_id, bigram
    )
    SELECT doc_id, ROUND(MAX(c) * 1.0 / SUM(c), 4) AS top_bigram_ratio
    FROM cnt GROUP BY doc_id
    """,
)
def q_doc_repetition_ratio(spark, t):
    """Gopher-style repetition signal: fraction of a document's word
    bigrams taken by its single most frequent bigram (high ratio =
    degenerate/repetitive text, a standard pretraining drop rule).

    Bigrams are built map-side with zip_with over the token array
    (concat, NOT concat_ws: the zip tail pads with NULL and concat
    propagates it so the trailing pair drops cleanly), then one
    shuffle for the (doc, bigram) count and a doc-level rollup that
    reuses the same key prefix. The oracle's constant-bound
    ``range(1, 512)`` unfold is guarded by tests/test_oracle_bounds.py
    (fails loudly at 80% of the bound, before silent truncation)."""
    toks = F.split(F.col("text"), " ")
    bigrams = F.zip_with(
        toks,
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        ensure_parallelism(t["documents"])
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .filter(F.col("bigram").isNotNull())
        .groupBy("doc_id", "bigram")
        .count()
        .groupBy("doc_id")
        .agg(
            F.round(F.max("count") * F.lit(1.0) / F.sum("count"), 4).alias(
                "top_bigram_ratio"
            )
        )
    )


@query(
    "doc_contamination_overlap",
    oracle="""
    WITH base AS (
        SELECT doc_id, text,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_toks
        FROM documents
    ),
    g AS (
        SELECT base.doc_id,
               split_part(base.text, ' ', CAST(t.i AS INT)) || ' '
                   || split_part(base.text, ' ', CAST(t.i + 1 AS INT)) || ' '
                   || split_part(base.text, ' ', CAST(t.i + 2 AS INT)) || ' '
                   || split_part(base.text, ' ', CAST(t.i + 3 AS INT)) || ' '
                   || split_part(base.text, ' ', CAST(t.i + 4 AS INT)) AS gram
        FROM base, range(1, 512) t(i)
        WHERE t.i <= base.n_toks - 4
    ),
    d AS (SELECT DISTINCT doc_id, gram FROM g),
    bench AS (SELECT DISTINCT gram FROM d WHERE doc_id < 25),
    cand AS (SELECT doc_id, gram FROM d WHERE doc_id >= 25)
    SELECT c.doc_id, COUNT(*) AS shared_grams
    FROM cand c JOIN bench b ON c.gram = b.gram
    GROUP BY c.doc_id
    """,
)
def q_doc_contamination_overlap(spark, t):
    """Benchmark decontamination probe: for every candidate document,
    the number of distinct 5-gram shingles it shares with a held-out
    benchmark set (here: doc_id < 25 stands in for the eval corpus).
    Standard pretraining hygiene — candidates with any overlap get
    dropped or down-weighted.

    Reuses ngram_shingles (distinct per doc, map-side build); the
    benchmark gram set is small and AQE-broadcast onto the candidate
    explode, so the only shuffle is the per-doc count. The oracle's
    constant-bound ``range(1, 512)`` unfold is guarded by
    tests/test_oracle_bounds.py (fails loudly at 80% of the bound)."""
    from ..llmdata.dedup import ngram_shingles

    sh = ngram_shingles(t["documents"], "text", "doc_id", n=5)
    bench = sh.filter(F.col("doc_id") < 25).select("shingle").distinct()
    cand = sh.filter(F.col("doc_id") >= 25)
    return (
        cand.join(bench, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_grams"))
    )


# --------------------------------------------------------------------------
# Round 2: training-data pipeline expansion — segment-level dedup,
# self-trained bigram LM scoring, text normalization, embedding exact
# dedup / int8 quantization / one Lloyd k-means iteration.
# --------------------------------------------------------------------------

SEGMENT_TOKENS = 8  # CCNet-style "line" width for segment-level dedup


@query(
    "doc_segment_dedup",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, ts, len(ts) AS n
        FROM (SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS ts
              FROM documents)
    ),
    segs AS (
        SELECT doc_id,
               CAST((u.i - 1) // {SEGMENT_TOKENS} AS BIGINT) AS seg_id,
               md5(string_agg(ts[u.i], ' ' ORDER BY u.i)) AS seg_hash
        FROM toks, UNNEST(generate_series(1, n)) AS u(i)
        GROUP BY doc_id, (u.i - 1) // {SEGMENT_TOKENS}
    ),
    freq AS (
        SELECT seg_hash, COUNT(DISTINCT doc_id) AS ndocs
        FROM segs GROUP BY seg_hash
    )
    SELECT s.doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_segments,
           ROUND(SUM(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
               AS dup_fraction
    FROM segs s JOIN freq f USING (seg_hash)
    GROUP BY s.doc_id
    """,
)
def q_doc_segment_dedup(spark, t):
    """CCNet-style segment-level dedup stats: split each document into
    consecutive 8-token segments, hash each segment, and report per
    document how many of its segments also appear in another document
    (the removal candidates a paragraph-dedup pass would drop).

    Scale shape: segmentation is MAP-SIDE (one pass over the token
    array — no per-token explode/shuffle); the only wide stages are
    the seg_hash frequency count (one shuffle on the hash, partial
    map-side agg) and the per-doc rollup. Segment hashes travel as
    32-char md5 strings, never the text itself.
    """
    d = ensure_parallelism(t["documents"]).select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("ts")
    )
    segs = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(ts) / {SEGMENT_TOKENS}.0) as int) - 1),"
                f" i -> array_join(slice(ts, i * {SEGMENT_TOKENS} + 1, {SEGMENT_TOKENS}), ' '))"
            )
        ).alias("seg"),
    ).select("doc_id", F.md5("seg").alias("seg_hash"))
    freq = segs.groupBy("seg_hash").agg(
        F.count_distinct("doc_id").alias("ndocs")
    )
    dup = F.when(F.col("ndocs") > 1, 1).otherwise(0)
    return (
        segs.join(freq, "seg_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(dup).alias("dup_segments"),
            F.round(F.sum(dup) / F.count("*"), 4).alias("dup_fraction"),
        )
    )


@query(
    "doc_bigram_lm_score",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, ts, len(ts) AS n
        FROM (SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS ts
              FROM documents)
    ),
    bg AS (
        SELECT doc_id, ts[u.i] AS w1, ts[u.i + 1] AS w2
        FROM toks, UNNEST(generate_series(1, n - 1)) AS u(i)
    ),
    cnt AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
    uni AS (SELECT w1, SUM(c) AS tot FROM cnt GROUP BY w1),
    prob AS (
        SELECT c.w1, c.w2, c.c * 1.0 / u.tot AS p
        FROM cnt c JOIN uni u USING (w1)
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(-LOG2(p.p)), 4) AS avg_neg_log2_prob
    FROM bg b JOIN prob p USING (w1, w2)
    GROUP BY b.doc_id
    """,
)
def q_doc_bigram_lm_score(spark, t):
    """Perplexity-proxy quality scoring: train a word-bigram language
    model on the corpus itself (P(w2|w1) from global bigram counts)
    and score each document by its mean negative log2 probability —
    the KenLM-filter shape from LLM data pipelines, self-contained.

    Scale shape: bigrams are built map-side with zip_with over two
    array slices (no per-token shuffle); the model is the bigram-count
    frame (vocabulary-sized, partial-agg'd) and the conditional is a
    broadcast-joined lookup back onto the exploded bigram stream.
    """
    d = ensure_parallelism(t["documents"]).select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("ts")
    )
    bg = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.expr("slice(ts, 1, size(ts) - 1)"),
                F.expr("slice(ts, 2, size(ts) - 1)"),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    cnt = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    uni = cnt.groupBy("w1").agg(F.sum("c").alias("tot"))
    prob = cnt.join(uni, "w1").select(
        "w1", "w2", (F.col("c") * 1.0 / F.col("tot")).alias("p")
    )
    # no broadcast hint: the model table is vocabulary^2-sized, small
    # here but unbounded at corpus scale — AQE broadcasts it while it
    # fits and falls back to a shuffle join when it doesn't
    return (
        bg.join(prob, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(-F.log2("p")), 4).alias("avg_neg_log2_prob"),
        )
    )


@query(
    "doc_clean_normalize",
    oracle=r"""
    SELECT lang,
           COUNT(*) AS doc_cnt,
           COUNT(DISTINCT md5(norm)) AS distinct_norm,
           CAST(SUM(CASE WHEN norm <> text THEN 1 ELSE 0 END) AS BIGINT) AS changed_cnt,
           ROUND(AVG(len(norm)), 4) AS avg_norm_chars
    FROM (SELECT lang, text,
                 trim(regexp_replace(regexp_replace(lower(text),
                      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
          FROM documents)
    GROUP BY lang
    """,
)
def q_doc_clean_normalize(spark, t):
    """Text normalization pass (lowercase, strip non-alphanumerics,
    collapse whitespace) with per-language effect stats — the
    pre-tokenization cleanup stage of a training-data pipeline.
    Pure map-side codegen (regexp_replace chain); the only shuffle is
    the per-language rollup with a two-phase distinct count.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        ensure_parallelism(t["documents"])
        .select("lang", "text", norm.alias("norm"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("doc_cnt"),
            F.count_distinct(F.md5("norm")).alias("distinct_norm"),
            F.sum(F.when(F.col("norm") != F.col("text"), 1).otherwise(0)).alias(
                "changed_cnt"
            ),
            F.round(F.avg(F.length("norm")), 4).alias("avg_norm_chars"),
        )
    )


@query(
    "emb_exact_dedup",
    oracle="""
    WITH e2 AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, embedding FROM embeddings
    ),
    h AS (
        SELECT vec_id,
               md5(array_to_string(
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(ROUND(x * 1000) AS BIGINT)),
                   ',')) AS vec_hash
        FROM e2
    )
    SELECT vec_hash, MIN(vec_id) AS keeper_vec_id, COUNT(*) AS copies
    FROM h GROUP BY vec_hash
    """,
)
def q_emb_exact_dedup(spark, t):
    """Exact embedding dedup by quantized-grid hash (3-decimal lattice
    md5) under a replayed corpus — the vector-space twin of
    doc_exact_dedup. Quantizing to an integer lattice BEFORE hashing
    makes the hash byte-stable across engines and storage float
    widths; the shuffle carries 32-char hashes, never vectors.
    """
    emb = ensure_parallelism(t["embeddings"]).select("vec_id", "embedding")
    replayed = emb.unionByName(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    vec_hash = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * 1000).cast("long").cast("string"),
            ),
        )
    )
    return (
        replayed.select("vec_id", vec_hash.alias("vec_hash"))
        .groupBy("vec_hash")
        .agg(F.min("vec_id").alias("keeper_vec_id"), F.count("*").alias("copies"))
    )


KMEANS_K = 8


@query(
    "emb_kmeans_assign",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    seeds AS (SELECT vec_id AS cluster_id, v AS cv FROM e WHERE vec_id < {KMEANS_K}),
    ranked AS (
        SELECT e.vec_id, e.v, s.cluster_id,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_distance(e.v, s.cv), s.cluster_id
               ) AS rn
        FROM e, seeds s
    ),
    a AS (SELECT vec_id, v, cluster_id FROM ranked WHERE rn = 1),
    pos AS (
        SELECT cluster_id, u.i AS pos, v[u.i] AS x
        FROM a, UNNEST(generate_series(1, len(v))) AS u(i)
    ),
    cent AS (SELECT cluster_id, pos, AVG(x) AS cx FROM pos GROUP BY cluster_id, pos),
    norms AS (SELECT cluster_id, SQRT(SUM(cx * cx)) AS cnorm FROM cent GROUP BY cluster_id),
    cnt AS (SELECT cluster_id, COUNT(*) AS n_members FROM a GROUP BY cluster_id)
    SELECT c.cluster_id, c.n_members, ROUND(n.cnorm, 6) AS new_centroid_norm
    FROM cnt c JOIN norms n USING (cluster_id)
    ORDER BY c.cluster_id
    """,
)
def q_emb_kmeans_assign(spark, t):
    """One Lloyd iteration of k-means over the embedding table:
    assign every vector to its nearest of k seed centroids (L2,
    deterministic seed = lowest-id vectors, ties to lowest cluster),
    then recompute the mean centroid per cluster — the clustering
    primitive behind semantic dedup / data-mixing stages.

    Scale shape: the k seed vectors broadcast to every partition
    (assignment is map-side, a k-way compare per row — no shuffle);
    the mean update is the posexplode + (cluster, dim) partial-agg
    used by emb_label_centroids. Iterating = re-broadcasting k new
    centroids; no step shuffles the corpus.
    """
    from ..llmdata.similarity import nearest_seed_l2

    e = ensure_parallelism(t["embeddings"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # k tiny seed vectors collected driver-side (broadcast-params
    # collect) so the assignment is one map-side argmin — the former
    # crossJoin + PARTITION BY vec_id window shuffled corpus×k rows
    # just to rank k candidates per vector
    seeds = [
        (r["vec_id"], r["v"])
        for r in e.filter(F.col("vec_id") < KMEANS_K).collect()
    ]
    assigned = e.withColumn(
        "__best", nearest_seed_l2(F.col("v"), seeds)
    ).select("vec_id", "v", F.col("__best.cluster_id").alias("cluster_id"))
    pos = assigned.select("cluster_id", F.posexplode("v").alias("pos", "x"))
    cent = pos.groupBy("cluster_id", "pos").agg(F.avg("x").alias("cx"))
    norms = cent.groupBy("cluster_id").agg(
        F.sqrt(F.sum(F.col("cx") * F.col("cx"))).alias("cnorm")
    )
    cnt = assigned.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return (
        cnt.join(norms, "cluster_id")
        .select("cluster_id", "n_members", F.round("cnorm", 6).alias("new_centroid_norm"))
        .orderBy("cluster_id")
    )


@query(
    "emb_int8_quantize",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (
        SELECT vec_id, v,
               GREATEST(list_max(list_transform(v, x -> ABS(x))), 1e-12) AS amax
        FROM e
    ),
    recon AS (
        SELECT vec_id, amax,
               v[u.i] AS x,
               CAST(ROUND(v[u.i] * 127.0 / amax) AS BIGINT) * amax / 127.0 AS rx
        FROM s, UNNEST(generate_series(1, len(v))) AS u(i)
    )
    SELECT vec_id,
           ROUND(MAX(amax), 6) AS scale_max,
           ROUND(SQRT(SUM((x - rx) * (x - rx))), 6) AS recon_err
    FROM recon
    GROUP BY vec_id
    """,
)
def q_emb_int8_quantize(spark, t):
    """Symmetric int8 quantization of the embedding column (per-vector
    absmax scaling) with exact reconstruction error — the vector
    compression step before shipping embeddings to an ANN index or a
    training shard.  Entirely map-side per vector (no shuffle at all:
    the group-by is only the oracle's cross-engine formulation; Spark
    computes the error inside one higher-order fold per row).
    """
    e = ensure_parallelism(t["embeddings"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    amax = F.greatest(
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))), F.lit(1e-12)
    )
    err = F.sqrt(
        F.aggregate(
            F.transform(
                F.col("v"),
                lambda x: F.pow(
                    x
                    - F.round(x * 127.0 / F.col("amax")).cast("long")
                    * F.col("amax")
                    / 127.0,
                    F.lit(2.0),
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        e.withColumn("amax", amax)
        .select(
            "vec_id",
            F.round("amax", 6).alias("scale_max"),
            F.round(err, 6).alias("recon_err"),
        )
    )


PACK_CAPACITY = 512  # tokens per training sequence bin


@query(
    "doc_sequence_pack",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, source,
               len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tok,
               CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   - n_tok AS prev_sum
        FROM toks
    )
    SELECT source,
           CAST(prev_sum // {PACK_CAPACITY} AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
           ROUND(SUM(n_tok) / {PACK_CAPACITY}.0, 4) AS fill_ratio
    FROM c
    GROUP BY source, bin_id
    """,
)
def q_doc_sequence_pack(spark, t):
    """Training-sequence packing: assign documents (in stable doc_id
    order, shard-local per source) to ~512-token bins by cumulative
    token prefix — the sequence-packing step that turns a document
    corpus into fixed-length training examples. Documents may straddle
    a bin boundary (prefix packing, the standard streaming-concat
    formulation) — fill_ratio per bin makes the packing efficiency
    the checkable output.

    Scale shape: token counts are map-side; the running sum windows
    WITHIN each source shard (partitioned window, never global), which
    is exactly how packing runs in production — shard-local, one
    shuffle on source.
    """
    toks = ensure_parallelism(t["documents"]).select(
        "doc_id",
        "source",
        F.size(F.split(F.lower(F.trim("text")), r"\s+")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = toks.withColumn("prev_sum", F.sum("n_tok").over(w) - F.col("n_tok"))
    return (
        c.groupBy(
            "source",
            F.expr(f"prev_sum div {PACK_CAPACITY}").alias("bin_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("bin_tokens"),
            F.round(F.sum("n_tok") / F.lit(float(PACK_CAPACITY)), 4).alias(
                "fill_ratio"
            ),
        )
    )


VOCAB_SIZE = 64
ENCODE_PREFIX = 16  # ids emitted per doc (output-size cap, not a scan cap)


@query(
    "doc_vocab_encode",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, u.i AS pos, ts[u.i] AS tok
        FROM (SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS ts
              FROM documents),
             UNNEST(generate_series(1, len(ts))) AS u(i)
    ),
    vocab AS (
        SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS token_id
        FROM tok GROUP BY tok
        QUALIFY token_id <= {VOCAB_SIZE}
    ),
    enc AS (
        SELECT t.doc_id, t.pos, COALESCE(v.token_id, 0) AS tid
        FROM tok t LEFT JOIN vocab v USING (tok)
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           array_to_string((array_agg(tid ORDER BY pos))[1:{ENCODE_PREFIX}], ',')
               AS id_prefix
    FROM enc
    GROUP BY doc_id
    """,
)
def q_doc_vocab_encode(spark, t):
    """Vocabulary build + numericalization: rank the corpus's top-64
    words into a frequency vocabulary (deterministic alphabetical
    tie-break, id 0 = OOV) and encode every document as token ids —
    the tokenize-and-encode stage of a training-data pipeline, with
    the first 16 ids per doc (comma-rendered, list-free for the
    external hasher) as the checkable prefix.

    Scale shape: the vocabulary is one token-count shuffle + a TINY
    top-k (vocab-sized) that broadcasts back onto the exploded token
    stream; re-collecting ordered ids per doc reuses the doc_id
    partitioning. The global vocab rank runs over distinct TOKENS
    (vocabulary-scale, not corpus-scale), so the unpartitioned window
    is bounded data.
    """
    tok = (
        ensure_parallelism(t["documents"])
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
                "pos", "tok"
            ),
        )
    )
    counts = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), "tok")
    vocab = (
        counts.withColumn("token_id", F.row_number().over(w))
        .filter(F.col("token_id") <= VOCAB_SIZE)
        .select("tok", "token_id")
    )
    enc = tok.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id",
        "pos",
        F.coalesce("token_id", F.lit(0)).cast("long").alias("tid"),
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("tid") == 0, 1).otherwise(0)).alias("n_oov"),
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "tid"))
                        ),
                        lambda s: s.getField("tid"),
                    ),
                    1,
                    ENCODE_PREFIX,
                ),
                ",",
            ).alias("id_prefix"),
        )
    )


@query(
    "audio_pcm_stats",
    oracle="""
    WITH s AS (
        SELECT doc_id, text, len(text) // 2 AS n
        FROM documents WHERE doc_id % 3 = 1
    ),
    raw AS (
        SELECT doc_id,
               ascii(substr(text, 2 * u.i - 1, 1))
               + 256 * ascii(substr(text, 2 * u.i, 1)) AS u16
        FROM s, UNNEST(generate_series(1, n)) AS u(i)
    ),
    samp AS (
        SELECT doc_id,
               CAST(CASE WHEN u16 >= 32768 THEN u16 - 65536 ELSE u16 END
                    AS DOUBLE) AS v
        FROM raw
    )
    SELECT doc_id AS media_id,
           COUNT(*) AS n_samples,
           CAST(MAX(ABS(v)) AS BIGINT) AS peak,
           ROUND(SQRT(AVG(v * v)), 4) AS rms,
           ROUND(AVG(v), 4) AS mean_level
    FROM samp
    GROUP BY doc_id
    """,
)
def q_audio_pcm_stats(spark, t):
    """REAL multimodal decode, end to end: the audio rows' binary
    payloads are decoded as 16-bit little-endian PCM inside an
    Arrow-batched mapInPandas (numpy frombuffer — no external media
    library needed) and reduced to waveform statistics. The oracle
    reconstructs the same SIGNED samples arithmetically (sample i =
    ascii(2i) + 256*ascii(2i+1), two's-complemented above 32767 —
    byte-exact vs numpy's '<i2' for any payload, not just ASCII),
    making the Python decode path itself value-checked cross-engine —
    this is the one place the engine's 'UDFs only where Spark
    genuinely cannot express it' rule fires, and it still gets an
    oracle. Zero-sample media (empty / single-byte payloads) are
    filtered out, matching the oracle's UNNEST producing no rows."""
    from ..llmdata.multimodal import decode_pcm_features

    audio = ensure_parallelism(
        _media_frame(t).filter(F.col("media_type") == "audio")
    )
    feats = decode_pcm_features(audio).filter(F.col("n_samples") > 0)
    return feats.select(
        "media_id",
        "n_samples",
        "peak",
        F.round("rms", 4).alias("rms"),
        F.round("mean_level", 4).alias("mean_level"),
    )


@query(
    "doc_simhash_near_dup",
    oracle=r"""
    WITH tok AS (
        SELECT DISTINCT doc_id, t.tok
        FROM documents, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS t(tok)
    ),
    tb AS (
        SELECT doc_id, md5(tok) AS h, b.b
        FROM tok, UNNEST(generate_series(0, 31)) AS b(b)
    ),
    contrib AS (
        SELECT doc_id, b,
               CASE WHEN (CAST(FLOOR((instr('0123456789abcdef', substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
                          / CAST(POW(2, b % 4) AS BIGINT)) AS BIGINT)) % 2 = 1
                    THEN 1 ELSE -1 END AS c
        FROM tb
    ),
    per_bit AS (SELECT doc_id, b, SUM(c) AS s FROM contrib GROUP BY doc_id, b),
    fp AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN CAST(POW(2, b) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM per_bit GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, u.b AS band,
               CASE u.b WHEN 0 THEN simhash % 1024
                        WHEN 1 THEN (simhash // 1024) % 1024
                        ELSE simhash // 1048576 END AS band_val
        FROM fp, UNNEST(generate_series(0, 2)) AS u(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hamming
    FROM cand c
    JOIN fp fa ON fa.doc_id = c.doc_a
    JOIN fp fb ON fb.doc_id = c.doc_b
    WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 2
    """,
)
def q_doc_simhash_near_dup(spark, t):
    """SimHash Hamming-radius near-dup search: pairs of documents
    whose 32-bit fingerprints differ in at most 2 bits. Pigeonhole
    banding (3 bit-groups for radius 2: any qualifying pair agrees
    exactly on >= 1 band) turns the radius search into an equi-join on
    (band, band_value); verification is one codegen bit_count(xor) per
    candidate. The fingerprint-only sibling of doc_minhash_near_dup —
    one long per document, no shingle state anywhere.

    32 bits (not the 16 of the doc_simhash fingerprint demo) so the
    3 pigeonhole bands carry 10-12-bit keys: band-bucket population is
    ~corpus/1024 instead of ~corpus/32, which keeps the candidate join
    output near-linear — measured 5.2s -> sub-second at sf0.1.
    Production systems use 64 for the same reason."""
    from ..llmdata.dedup import simhash_near_duplicates

    return simhash_near_duplicates(
        t["documents"], "text", "doc_id", bits=32, max_hamming=2
    )


# per-source keep rates for the mixing demo: 256ths of the corpus
# (md5-byte thresholds), defaulting to 26/256 ~ 10%
MIX_RATES_256 = {"src0": 256, "src1": 128, "src2": 64, "src3": 192}
MIX_DEFAULT_256 = 26


@query(
    "doc_source_mixing",
    oracle=f"""
    WITH d AS (
        SELECT source,
               CAST(instr('0123456789abcdef',
                           substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1
                    AS BIGINT) * 16
               + CAST(instr('0123456789abcdef',
                             substr(md5(CAST(doc_id AS STRING)), 2, 1)) - 1
                      AS BIGINT) AS u,
               CASE source
                 WHEN 'src0' THEN 256 WHEN 'src1' THEN 128
                 WHEN 'src2' THEN 64  WHEN 'src3' THEN 192
                 ELSE {MIX_DEFAULT_256} END AS keep_256
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN u < keep_256 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(MAX(keep_256) / 256.0, 4) AS target_rate
    FROM d GROUP BY source
    """,
)
def q_doc_source_mixing(spark, t):
    """Dataset mixing: per-source keep rates (a fixed mixture-weight
    table, the Pile-style recipe) applied with a DETERMINISTIC
    md5-derived uniform — stable across runs, engines, partitionings,
    and re-executions, unlike sample()/randomSplit. Entirely map-side:
    the keep decision is a projection, the per-source audit rollup is
    the only shuffle. Upsampling (>1x weights) would repeat the same
    construction with an epoch counter salt in the hash input."""
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long")
    )
    keep_256 = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(v))
            for s, v in MIX_RATES_256.items()
        ],
        F.lit(MIX_DEFAULT_256),
    )
    d = ensure_parallelism(t["documents"]).select(
        "source", u.alias("u"), keep_256.alias("keep_256")
    )
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("u") < F.col("keep_256"), 1).otherwise(0)).alias(
            "n_kept"
        ),
        F.round(F.max("keep_256") / 256.0, 4).alias("target_rate"),
    )


def _consensus_oracle() -> str:
    from .corpus import ORACLES

    return f"""
    WITH mh AS ({ORACLES["doc_minhash_near_dup"]}),
    em AS ({ORACLES["emb_cosine_near_dup"]})
    SELECT COALESCE(mh.doc_a, em.id_a) AS doc_a,
           COALESCE(mh.doc_b, em.id_b) AS doc_b,
           mh.jaccard,
           em.cos_sim,
           (mh.doc_a IS NOT NULL AND em.id_a IS NOT NULL) AS both_signals
    FROM mh FULL OUTER JOIN em
      ON mh.doc_a = em.id_a AND mh.doc_b = em.id_b
    """


@query("doc_near_dup_consensus", oracle=_consensus_oracle())
def q_doc_near_dup_consensus(spark, t):
    """Ensemble near-dup: the MinHash text signal and the embedding
    cosine signal fused over aligned doc/vec ids — production dedup
    pipelines ensemble lexical and semantic detectors exactly like
    this (a pair caught by BOTH is a confident duplicate; a pair
    caught by one is a review candidate). Full-outer join of the two
    candidate-verified pair sets; each side keeps its own
    LSH-candidate-bounded scale shape, and the fusion join moves only
    (id, id, score) rows."""
    from ..llmdata.dedup import minhash_near_duplicates
    from ..llmdata.similarity import cosine_near_duplicates, hyperplanes

    mh = minhash_near_duplicates(
        t["documents"], "text", "doc_id",
        n=SHINGLE_N, num_hashes=NUM_HASHES,
        rows_per_band=ROWS_PER_BAND, threshold=JACCARD_THRESHOLD,
    )
    em = cosine_near_duplicates(
        t["embeddings"], hyperplanes(EMB_DIM, N_PLANES, N_TABLES),
        n_tables=N_TABLES, threshold=COSINE_DUP_THRESHOLD,
    ).select(
        F.col("id_a"), F.col("id_b"), F.col("cos_sim")
    )
    return (
        mh.join(
            em,
            (mh.doc_a == em.id_a) & (mh.doc_b == em.id_b),
            "full_outer",
        )
        .select(
            F.coalesce("doc_a", "id_a").alias("doc_a"),
            F.coalesce("doc_b", "id_b").alias("doc_b"),
            "jaccard",
            "cos_sim",
            (F.col("doc_a").isNotNull() & F.col("id_a").isNotNull()).alias(
                "both_signals"
            ),
        )
    )
