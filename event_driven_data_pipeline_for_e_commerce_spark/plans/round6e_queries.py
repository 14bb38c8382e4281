"""Round-6-staged corpus additions, part 5: price/size efficient
frontier (skyline over a bounded attribute domain), event-type x
segment chi-square independence screen, regional Theil inequality
decomposition of nation revenue, an embedding silhouette proxy
(cluster separation without all-pairs distances), and a Markov
next-event prediction accuracy contract.

Parity rules: money lands as e2 BIGINT before any arithmetic; every
float derivation (chi-square cell contribution, Theil term, squared
distance) is ONE fixed-order expression evaluated identically in both
engines, rounded to an integer grain (e4/e6) per row, then
integer-summed — no parallel float SUM ever reaches the output.
Integer averages/ratios use CAST(FLOOR(a * 1.0 / b) AS BIGINT): both
engines convert the same exact integer sum to the same double, so the
floor agrees even past 2^53 (the sums themselves are exact BIGINT /
HUGEINT).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from event_driven_data_pipeline_for_e_commerce_spark.operators.partitioning import (
    ensure_parallelism,
)
from event_driven_data_pipeline_for_e_commerce_spark.operators.pinning import pin

from .corpus import query


@query(
    "part_size_price_frontier",
    oracle="""
    WITH per_size AS (
        SELECT p_size, COUNT(*) AS n_parts,
               MIN(CAST(ROUND(p_retailprice * 100) AS BIGINT))
                   AS min_price_e2
        FROM part GROUP BY p_size
    )
    SELECT a.p_size, a.n_parts, a.min_price_e2
    FROM per_size a
    WHERE NOT EXISTS (
        SELECT 1 FROM per_size b
        WHERE b.p_size > a.p_size AND b.min_price_e2 <= a.min_price_e2
    )
    """,
)
def q_part_size_price_frontier(spark, t):
    """Efficient frontier (2-D skyline) of the part catalog: the sizes
    whose cheapest part is strictly cheaper than every larger size's
    cheapest part — i.e. paying less cannot buy a bigger part. The
    classic skyline query, specialized to a bounded attribute domain.

    Scale shape: the fact-side work is ONE aggregation to (p_size)
    grain — a bounded domain (~50 distinct sizes regardless of row
    count) — so the dominance test runs on a driver-tiny frame via a
    broadcast nested-loop anti-join. No window over the raw table, no
    quadratic part-to-part comparison. At 100 TB only the groupBy
    shuffles, and it shuffles 50 groups."""
    per_size = t["part"].groupBy("p_size").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min(
            F.round(F.col("p_retailprice") * 100).cast("long")
        ).alias("min_price_e2"),
    )
    a, b = per_size.alias("a"), per_size.alias("b")
    dominated_by = (F.col("b.p_size") > F.col("a.p_size")) & (
        F.col("b.min_price_e2") <= F.col("a.min_price_e2")
    )
    return a.join(F.broadcast(b), dominated_by, "left_anti").select(
        "p_size", "n_parts", "min_price_e2"
    )


# One fixed-order chi-square cell contribution, evaluated from exact
# integer (n, rs, cs, N) in BOTH engines; e4-rounded so the final sum
# is an integer sum. Zero cells (event_type x segment combos with no
# observations) are materialized by the margin grid and contribute
# their full expected-count penalty — omitting them understates chi2.
# CAST AS DOUBLE (not "* 1.0"): Spark types 1.0 as DECIMAL and would
# run scale-limited decimal division off the oracle's double path.
_CHI_CELL = (
    "CAST(ROUND(POWER(n - CAST(rs AS DOUBLE) * cs / nn, 2)"
    " / (CAST(rs AS DOUBLE) * cs / nn) * 10000) AS BIGINT)"
)


@query(
    "event_segment_chisq",
    oracle=f"""
    WITH cells AS (
        SELECT e.event_type, c.c_mktsegment AS segment,
               COUNT(*) AS n
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY e.event_type, c.c_mktsegment
    ),
    rs AS (SELECT event_type, SUM(n) AS rs FROM cells GROUP BY event_type),
    cs AS (SELECT segment, SUM(n) AS cs FROM cells GROUP BY segment),
    tot AS (SELECT SUM(n) AS nn FROM cells),
    grid AS (
        SELECT rs.event_type, cs.segment,
               CAST(rs.rs AS BIGINT) AS rs, CAST(cs.cs AS BIGINT) AS cs,
               CAST(tot.nn AS BIGINT) AS nn,
               CAST(COALESCE(cells.n, 0) AS BIGINT) AS n
        FROM rs CROSS JOIN cs CROSS JOIN tot
        LEFT JOIN cells ON cells.event_type = rs.event_type
                       AND cells.segment = cs.segment
    ),
    contrib AS (SELECT {_CHI_CELL} AS cell_e4 FROM grid),
    dims AS (
        SELECT (SELECT COUNT(*) FROM rs) AS n_types,
               (SELECT COUNT(*) FROM cs) AS n_segments,
               (SELECT CAST(nn AS BIGINT) FROM tot) AS n_events
    )
    SELECT d.n_events, d.n_types, d.n_segments,
           CAST((d.n_types - 1) * (d.n_segments - 1) AS BIGINT) AS dof,
           s.chi2_e4,
           CAST(ROUND(SQRT((CAST(s.chi2_e4 AS DOUBLE) / 10000.0)
                / (d.n_events * LEAST(d.n_types - 1, d.n_segments - 1)))
                * 10000) AS BIGINT) AS cramers_v_e4
    FROM dims d, (SELECT CAST(SUM(cell_e4) AS BIGINT) AS chi2_e4
                  FROM contrib) s
    """,
)
def q_event_segment_chisq(spark, t):
    """Chi-square independence screen: is behavioral event mix
    independent of customer market segment? Builds the full
    event_type x segment contingency grid (zero cells materialized via
    the margin cross-product so their expected-count penalty is
    counted), sums e4-rounded per-cell contributions, and reports
    chi2 with degrees of freedom and Cramer's V effect size.

    Scale shape: events pre-aggregate to (user_id, event_type) before
    the dim join, the join is a keyed equi-join, and everything after
    the second aggregation is a handful of rows (|types| x |segments|
    grid) — margins, grid, and the scalar rollup are broadcast-sized.
    No float parallel sum: each cell contribution is one fixed-order
    double expression rounded to e4, then integer-summed."""
    per_user = (
        t["events"]
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cust = t["customer"].select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    # The margin frames (rs/cs/tot) and the dims rollup all re-derive
    # from cells; without a pin each one would replay the fact-side
    # join+agg — five event-table scans at 100 TB. Pinned, the fact
    # work runs once and every margin reads |types|x|segments| rows.
    cells = pin(
        per_user.join(cust, "user_id")
        .groupBy("event_type", "segment")
        .agg(F.sum("cnt").cast("long").alias("n"))
    )
    rs = cells.groupBy("event_type").agg(F.sum("n").cast("long").alias("rs"))
    cs = cells.groupBy("segment").agg(F.sum("n").cast("long").alias("cs"))
    tot = cells.agg(F.sum("n").cast("long").alias("nn"))
    # Every cross-join side here is margin-sized (|types|, |segments|,
    # or one row) — broadcast them explicitly so the planner emits
    # BroadcastNestedLoopJoin, never a shuffled CartesianProduct.
    grid = (
        rs.crossJoin(F.broadcast(cs))
        .crossJoin(F.broadcast(tot))
        .join(cells, ["event_type", "segment"], "left")
        .select(
            "rs", "cs", "nn",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    )
    contrib = grid.select(F.expr(_CHI_CELL).alias("cell_e4"))
    chi2 = contrib.agg(F.sum("cell_e4").cast("long").alias("chi2_e4"))
    dims = (
        rs.agg(F.count(F.lit(1)).alias("n_types"))
        .crossJoin(F.broadcast(cs.agg(F.count(F.lit(1)).alias("n_segments"))))
        .crossJoin(F.broadcast(tot.select(F.col("nn").alias("n_events"))))
    )
    return dims.crossJoin(F.broadcast(chi2)).select(
        "n_events", "n_types", "n_segments",
        ((F.col("n_types") - 1) * (F.col("n_segments") - 1))
        .cast("long")
        .alias("dof"),
        "chi2_e4",
        F.expr(
            "CAST(ROUND(SQRT((CAST(chi2_e4 AS DOUBLE) / 10000.0)"
            " / (n_events * LEAST(n_types - 1, n_segments - 1)))"
            " * 10000) AS BIGINT)"
        ).alias("cramers_v_e4"),
    )


# Theil-T term for one member against its group total: share * ln of
# share-to-uniform ratio, e6-rounded from exact integer inputs.
def _theil_term(x: str, tot: str, n: str) -> str:
    # CAST AS DOUBLE, not "* 1.0": Spark types a 1.0 literal as
    # DECIMAL(2,1), so x * 1.0 / tot would run scale-limited decimal
    # division and drift ~1e-6 relative off the oracle's pure-double
    # path; an explicit double cast makes both engines bit-identical.
    return (
        f"CAST(ROUND((CAST({x} AS DOUBLE) / {tot})"
        f" * LN(CAST({x} AS DOUBLE) * {n} / {tot}) * 1000000) AS BIGINT)"
    )


@query(
    "nation_revenue_theil",
    oracle=f"""
    WITH nat AS (
        SELECT n.n_regionkey, n.n_name,
               SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev_e2
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_regionkey, n.n_name
    ),
    grp AS (
        SELECT n_regionkey,
               CAST(SUM(rev_e2) AS BIGINT) AS reg_rev_e2,
               COUNT(*) AS n_nations
        FROM nat GROUP BY n_regionkey
    ),
    terms AS (
        SELECT nat.n_regionkey,
               CAST(SUM({_theil_term("nat.rev_e2", "grp.reg_rev_e2",
                                     "grp.n_nations")}) AS BIGINT)
                   AS within_theil_e6
        FROM nat JOIN grp ON nat.n_regionkey = grp.n_regionkey
        GROUP BY nat.n_regionkey
    ),
    tot AS (SELECT CAST(SUM(rev_e2) AS BIGINT) AS tot_e2 FROM nat)
    SELECT r.r_name, grp.n_nations, grp.reg_rev_e2,
           CAST(ROUND(CAST(grp.reg_rev_e2 AS DOUBLE) * 1000000
                / tot.tot_e2) AS BIGINT) AS rev_share_e6,
           terms.within_theil_e6
    FROM grp
    JOIN terms ON grp.n_regionkey = terms.n_regionkey
    JOIN region r ON grp.n_regionkey = r.r_regionkey
    CROSS JOIN tot
    """,
)
def q_nation_revenue_theil(spark, t):
    """Regional Theil-T inequality decomposition of customer-nation
    revenue: per region, how unequally is order revenue spread across
    the region's nations (within-region Theil index), alongside the
    region's share of world revenue. The Theil index is the standard
    additive inequality measure for hierarchical rollups.

    Scale shape: one fact aggregation to nation grain (25 groups)
    carries all the data volume; every later step operates on <= 25
    rows. Theil terms are e6-rounded from exact e2-integer revenue in
    one fixed-order expression, then integer-summed — deterministic
    across partition merge orders."""
    nat = (
        t["orders"]
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_regionkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_regionkey", "n_name")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("rev_e2")
        )
    )
    # grp / terms / tot all re-derive from the 25-row nation frame;
    # pin it so the orders-side join+agg runs once, not four times.
    nat = pin(nat)
    grp = nat.groupBy("n_regionkey").agg(
        F.sum("rev_e2").cast("long").alias("reg_rev_e2"),
        F.count(F.lit(1)).alias("n_nations"),
    )
    terms = (
        nat.join(F.broadcast(grp), "n_regionkey")
        .select(
            "n_regionkey",
            F.expr(
                _theil_term("rev_e2", "reg_rev_e2", "n_nations")
            ).alias("term_e6"),
        )
        .groupBy("n_regionkey")
        .agg(F.sum("term_e6").cast("long").alias("within_theil_e6"))
    )
    tot = nat.agg(F.sum("rev_e2").cast("long").alias("tot_e2"))
    return (
        grp.join(terms, "n_regionkey")
        .join(
            F.broadcast(
                t["region"].select(
                    F.col("r_regionkey").alias("n_regionkey"), "r_name"
                )
            ),
            "n_regionkey",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "r_name", "n_nations", "reg_rev_e2",
            F.round(
                F.col("reg_rev_e2").cast("double") * 1000000 / F.col("tot_e2")
            )
            .cast("long")
            .alias("rev_share_e6"),
            "within_theil_e6",
        )
    )


@query(
    "emb_silhouette_proxy",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    pos AS (
        SELECT label, u.i AS pos, v[u.i] AS x
        FROM e, UNNEST(generate_series(1, len(v))) AS u(i)
    ),
    cm AS (
        SELECT label, pos, ROUND(AVG(x), 6) AS cx
        FROM pos GROUP BY label, pos
    ),
    cent AS (
        SELECT label AS clabel, list(cx ORDER BY pos) AS c
        FROM cm GROUP BY label
    ),
    p AS (
        SELECT e.vec_id, e.label, cent.clabel,
               CAST(ROUND(list_sum(list_transform(
                        generate_series(1, len(e.v)),
                        i -> (e.v[i] - cent.c[i]) * (e.v[i] - cent.c[i])))
                    * 1000000) AS BIGINT) AS d2_e6
        FROM e, cent
    ),
    vec AS (
        SELECT vec_id, label,
               MAX(CASE WHEN clabel = label THEN d2_e6 END) AS intra_e6,
               MIN(CASE WHEN clabel <> label THEN d2_e6 END) AS other_e6
        FROM p GROUP BY vec_id, label
    )
    SELECT label, COUNT(*) AS n_vectors,
           CAST(FLOOR(SUM(intra_e6) * 1.0 / COUNT(*)) AS BIGINT)
               AS avg_intra_d2_e6,
           CAST(FLOOR(SUM(other_e6) * 1.0 / COUNT(*)) AS BIGINT)
               AS avg_other_d2_e6,
           CAST(FLOOR(SUM(other_e6) * 10000.0 / SUM(intra_e6)) AS BIGINT)
               AS sep_ratio_e4
    FROM vec GROUP BY label
    """,
)
def q_emb_silhouette_proxy(spark, t):
    """Silhouette-style cluster separation proxy per label: average
    squared distance to the OWN label centroid vs the NEAREST other
    centroid, and their ratio — the cheap (O(n*k), not O(n^2))
    screen for whether labels form separated clusters in embedding
    space.

    Scale shape: centroids reduce to k x dim via posexplode + groupBy
    (partial-agg shuffles (label, pos) pairs, never vectors); the
    k-row centroid frame is broadcast, so the per-vector distance pass
    is map-side — the corpus never shuffles its vectors. Each squared
    distance is one sequential zip_with/aggregate fold in double
    (bit-identical to the oracle's list fold), e6-rounded per vector;
    label rollups are exact integer sums. Centroid components are
    rounded to 6 decimals in both engines before any distance, so the
    only parallel float reduction (the AVG) is frozen at a grain far
    above its merge-order jitter."""
    e = ensure_parallelism(
        t["embeddings"].select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    pos = e.select("label", F.posexplode("v").alias("pos", "x"))
    cm = pos.groupBy("label", "pos").agg(F.round(F.avg("x"), 6).alias("cx"))
    cent = (
        cm.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pc"))
        .select(
            F.col("label").alias("clabel"),
            F.expr("transform(pc, s -> s.cx)").alias("c"),
        )
    )
    d2 = F.aggregate(
        F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    p = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "clabel",
        F.round(d2 * 1000000).cast("long").alias("d2_e6"),
    )
    vec = p.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("clabel") == F.col("label"), F.col("d2_e6"))
        ).alias("intra_e6"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.col("d2_e6"))
        ).alias("other_e6"),
    )
    return vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.expr(
            "CAST(FLOOR(SUM(intra_e6) * 1.0 / COUNT(*)) AS BIGINT)"
        ).alias("avg_intra_d2_e6"),
        F.expr(
            "CAST(FLOOR(SUM(other_e6) * 1.0 / COUNT(*)) AS BIGINT)"
        ).alias("avg_other_d2_e6"),
        F.expr(
            "CAST(FLOOR(SUM(other_e6) * 10000.0 / SUM(intra_e6)) AS BIGINT)"
        ).alias("sep_ratio_e4"),
    )


@query(
    "markov_next_event_accuracy",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER w AS nxt,
               ROW_NUMBER() OVER w AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM events WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    train AS (
        SELECT event_type AS w1, nxt AS w2, COUNT(*) AS cnt
        FROM seq WHERE n >= 3 AND rn <= n - 2
        GROUP BY event_type, nxt
    ),
    pred AS (
        SELECT w1, w2 AS predicted
        FROM (SELECT w1, w2,
                     ROW_NUMBER() OVER (PARTITION BY w1
                                        ORDER BY cnt DESC, w2) AS pr
              FROM train)
        WHERE pr = 1
    ),
    base AS (
        SELECT w2 AS majority
        FROM (SELECT w2, ROW_NUMBER() OVER (ORDER BY SUM(cnt) DESC, w2)
                         AS br
              FROM train GROUP BY w2)
        WHERE br = 1
    ),
    test AS (
        SELECT seq.event_type AS context, seq.nxt AS actual
        FROM seq WHERE n >= 3 AND rn = n - 1
    ),
    scored AS (
        SELECT CASE WHEN pred.predicted = test.actual THEN 1 ELSE 0 END
                   AS hit,
               CASE WHEN base.majority = test.actual THEN 1 ELSE 0 END
                   AS base_hit
        FROM test
        LEFT JOIN pred ON pred.w1 = test.context
        CROSS JOIN base
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(hit) AS BIGINT) AS n_correct,
           CAST(FLOOR(SUM(hit) * 10000.0 / COUNT(*)) AS BIGINT)
               AS acc_bp,
           CAST(SUM(base_hit) AS BIGINT) AS n_majority_correct,
           CAST(FLOOR(SUM(base_hit) * 10000.0 / COUNT(*)) AS BIGINT)
               AS majority_acc_bp,
           CAST(FLOOR(SUM(hit) * 10000.0 / COUNT(*))
                - FLOOR(SUM(base_hit) * 10000.0 / COUNT(*)) AS BIGINT)
               AS lift_bp
    FROM scored
    """,
)
def q_markov_next_event_accuracy(spark, t):
    """First-order Markov next-event prediction contract: train a
    transition matrix on every user's event prefix (all consecutive
    pairs except the final transition), predict each user's held-out
    last event from its predecessor via argmax transition count, and
    report accuracy with lift over the predict-the-majority baseline
    — the eval loop that decides whether sequence context carries
    signal beyond the marginal event mix.

    Parity: counts are exact integers; ties in the argmax and the
    majority baseline break on event-type text ascending; basis
    points via the portable FLOOR(a * 1.0 / b) form. Scale shape:
    the sequence pass is one window partitioned by user; training
    collapses to the |event_types|^2 transition grid (pinned — the
    pred and base branches both read it); prediction is a broadcast
    join of that grid onto the per-user test rows. Nothing beyond
    the user-keyed window shuffles fact-scale data."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        t["events"]
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id", "event_type",
            F.lead("event_type").over(w).alias("nxt"),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("user_id"))
            .alias("n"),
        )
        .filter(F.col("n") >= 3)
    )
    train = pin(
        seq.filter(F.col("rn") <= F.col("n") - 2)
        .groupBy(
            F.col("event_type").alias("w1"), F.col("nxt").alias("w2")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pw = Window.partitionBy("w1").orderBy(F.desc("cnt"), F.asc("w2"))
    pred = (
        train.withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") == 1)
        .select("w1", F.col("w2").alias("predicted"))
    )
    base = (
        train.groupBy("w2")
        .agg(F.sum("cnt").alias("tot"))
        .orderBy(F.desc("tot"), F.asc("w2"))
        .limit(1)
        .select(F.col("w2").alias("majority"))
    )
    test = seq.filter(F.col("rn") == F.col("n") - 1).select(
        F.col("event_type").alias("context"), F.col("nxt").alias("actual")
    )
    scored = (
        test.join(F.broadcast(pred), F.col("context") == F.col("w1"), "left")
        .crossJoin(F.broadcast(base))
        .select(
            F.when(F.col("predicted") == F.col("actual"), 1)
            .otherwise(0)
            .alias("hit"),
            F.when(F.col("majority") == F.col("actual"), 1)
            .otherwise(0)
            .alias("base_hit"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("hit").cast("bigint").alias("n_correct"),
        F.expr(
            "CAST(FLOOR(SUM(hit) * 10000.0 / COUNT(*)) AS BIGINT)"
        ).alias("acc_bp"),
        F.sum("base_hit").cast("bigint").alias("n_majority_correct"),
        F.expr(
            "CAST(FLOOR(SUM(base_hit) * 10000.0 / COUNT(*)) AS BIGINT)"
        ).alias("majority_acc_bp"),
        F.expr(
            "CAST(FLOOR(SUM(hit) * 10000.0 / COUNT(*))"
            " - FLOOR(SUM(base_hit) * 10000.0 / COUNT(*)) AS BIGINT)"
        ).alias("lift_bp"),
    )
