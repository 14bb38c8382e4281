"""Behavioral invariants for the round-3 batch-2 corpus additions —
properties the oracle diff can't express (cross-engine hash equality
proves parity, not that the semantics are the right ones)."""

from __future__ import annotations

import pyspark.sql.functions as F

from event_driven_data_pipeline_for_e_commerce_spark.plans.corpus import QUERIES


def test_cms_never_underestimates(spark, sf_dir):
    """The Count-Min guarantee: est >= exact for every probed key
    (every true occurrence increments the probed cell)."""
    rows = QUERIES["cms_heavy_hitters"](spark, sf_dir).collect()
    assert rows, "no heavy hitters returned"
    for r in rows:
        assert r.cms_est >= r.exact_cnt, r
        assert r.overestimate == r.cms_est - r.exact_cnt


def test_cms_overestimate_within_depth_width_bound(spark, sf_dir):
    """Collision inflation stays under the classic eps*N bound with
    the min-over-depth taken (eps = e/width); a blown bound means the
    hash rows aren't independent."""
    import math

    df = QUERIES["cms_heavy_hitters"](spark, sf_dir)
    n = df.agg(F.sum("exact_cnt")).collect()[0][0]  # lower bound on stream N
    from event_driven_data_pipeline_for_e_commerce_spark.plans.round3b_queries import (
        CMS_WIDTH,
    )
    # N here is only the top-k mass; the true stream length is larger,
    # so use the lineitem count for the bound.
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    stream_n = load_tables(spark, sf_dir)["lineitem"].count()
    bound = math.e / CMS_WIDTH * stream_n
    for r in df.collect():
        assert r.overestimate <= bound, (r, bound, n)


def test_running_balance_final_row_equals_total(spark, sf_dir):
    """The last cumulative value per supplier must equal that
    supplier's total shipped quantity."""
    df = QUERIES["supplier_ship_cumulative"](spark, sf_dir)
    finals = (
        df.groupBy("l_suppkey")
        .agg(
            F.max_by("cum_qty", "day").alias("final_cum"),
            F.round(F.sum("qty"), 2).alias("total"),
        )
        .collect()
    )
    assert finals
    for r in finals:
        assert abs(r.final_cum - r.total) < 1e-6, r


def test_priority_mix_drift_bounded(spark, sf_dir):
    """Total-variation distance lives in [0, 1] by definition."""
    for r in QUERIES["priority_mix_drift"](spark, sf_dir).collect():
        assert 0.0 <= r.tv_distance <= 1.0, r


def test_ngram_novelty_first_doc_fully_novel(spark, sf_dir):
    """The smallest doc_id that has shingles introduces every one of
    them — novelty_pct must be exactly 100."""
    df = QUERIES["doc_ngram_novelty"](spark, sf_dir)
    first = df.orderBy("doc_id").first()
    assert first.novelty_pct == 100.0, first
    # and every doc's novel count is bounded by its shingle count
    assert df.filter(F.col("n_novel") > F.col("n_shingles")).count() == 0


def test_conversion_latency_user_conservation(spark, sf_dir):
    """Histogram user counts must sum to the number of users whose
    first view precedes (or equals) their first purchase."""
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    t = load_tables(spark, sf_dir)
    per_user = t["events"].groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "p"
        ),
    )
    expected = per_user.filter(
        F.col("v").isNotNull()
        & F.col("p").isNotNull()
        & (F.col("p") >= F.col("v"))
    ).count()
    got = (
        QUERIES["conversion_latency_histogram"](spark, sf_dir)
        .agg(F.sum("n_users"))
        .collect()[0][0]
    )
    assert got == expected


def test_zorder_buckets_tighter_than_global_span(spark, sf_dir):
    """The point of z-ordering: bucketing by z-value prefix bounds
    BOTH dimensions' ranges per bucket. The bucket id keeps the top 6
    interleaved bits — the top 3 bits of each dimension — leaving 5
    free bits per dimension, so each span is at most 2^5 - 1 = 31,
    far under the 255 global span a lexicographic sort leaves on its
    trailing dimension."""
    df = QUERIES["zorder_locality_audit"](spark, sf_dir)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.cust_span <= 31, r
        assert r.day_span <= 31, r


def test_zorder_counts_conserve_orders(spark, sf_dir):
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    df = QUERIES["zorder_locality_audit"](spark, sf_dir)
    total = df.agg(F.sum("n_rows")).collect()[0][0]
    assert total == load_tables(spark, sf_dir)["orders"].count()


def test_twap_constant_value_user_is_exact(spark, sf_dir):
    """A synthetic sanity anchor: TWAP of a constant series equals the
    constant regardless of interval spacing — checked by rebuilding
    one user's series with the same operator shape."""
    import pyspark.sql.functions as F2

    rows = [(1, 10.0, "2024-01-01 00:00:00", 1),
            (1, 10.0, "2024-01-03 07:00:00", 2),
            (1, 10.0, "2024-01-10 00:00:00", 3)]
    df = spark.createDataFrame(
        rows, "user_id long, value double, ts string, event_id long"
    ).select("user_id", "value", F2.to_timestamp("ts").alias("ts"), "event_id")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        df.select(
            "user_id", "value",
            F2.unix_micros("ts").alias("t"),
            F2.lead(F2.unix_micros("ts")).over(w).alias("n"),
        )
        .filter(F2.col("n").isNotNull())
        .select("user_id", "value", (F2.col("n") - F2.col("t")).alias("dt"))
    )
    got = seg.groupBy("user_id").agg(
        (F2.sum(F2.col("value") * F2.col("dt")) / F2.sum("dt")).alias("twap")
    ).collect()[0].twap
    assert got == 10.0


def test_zipf_slope_negative_for_natural_text(spark, sf_dir):
    """Any natural-ish corpus has a decreasing rank-frequency curve;
    the fitted log-log slope must be negative for every language."""
    for r in QUERIES["doc_zipf_slope"](spark, sf_dir).collect():
        assert r.zipf_slope < 0, r
        assert r.n_terms > 0


def test_streaming_cms_matches_batch_sketch(spark, sf_dir, tmp_path):
    """Replaying events through cms_foreach_batch (micro-batch grid
    merges) must land on exactly the batch-computed sketch — the
    mergeability guarantee — and point estimates must agree."""
    from event_driven_data_pipeline_for_e_commerce_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
    )
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables
    from event_driven_data_pipeline_for_e_commerce_spark.streaming.streams import (
        cms_foreach_batch,
        read_event_stream,
    )

    src = str(tmp_path / "events_src")
    events = load_tables(spark, sf_dir)["events"]
    events.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    target = str(tmp_path / "cms")

    q = (
        read_event_stream(spark, src, schema)
        .writeStream.foreachBatch(cms_foreach_batch(target, "user_id"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("maxFilesPerTrigger", 2)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    streamed = {
        (r.r, r.bucket): r.c for r in spark.read.parquet(target).collect()
    }
    batch = {
        (r.r, r.bucket): r.c
        for r in cms_sketch(events, "user_id").collect()
    }
    assert streamed == batch

    keys = events.select("user_id").distinct().limit(5)
    got = {
        r.user_id: r.cms_est
        for r in cms_estimate(
            spark.read.parquet(target), keys, "user_id"
        ).collect()
    }
    want = {
        r.user_id: r.cms_est
        for r in cms_estimate(cms_sketch(events, "user_id"), keys, "user_id").collect()
    }
    assert got == want and got


def test_top_pc_is_unit_vector_with_positive_eigenvalue(spark, sf_dir):
    """Power iteration must return a unit-norm direction (post-
    normalization) and a positive eigenvalue for any non-degenerate
    corpus; rounding at 4dp bounds the norm drift."""
    rows = QUERIES["emb_top_principal_component"](spark, sf_dir).collect()
    assert len(rows) == 64
    norm_sq = sum(r.loading ** 2 for r in rows)
    assert abs(norm_sq - 1.0) < 1e-2, norm_sq
    assert rows[0].eigenvalue > 0
    assert len({r.eigenvalue for r in rows}) == 1  # one scalar, repeated


def test_entropy_bounds(spark, sf_dir):
    """0 <= H <= ln(n_types) for every user (uniform upper bound)."""
    import math

    for r in QUERIES["user_event_entropy"](spark, sf_dir).collect():
        assert -1e-9 <= r.entropy_nats <= math.log(r.n_types) + 1e-6, r


def test_vocab_overlap_symmetric_bounds(spark, sf_dir):
    """Jaccard in (0, 1]; pairs emitted once with source_a < source_b."""
    rows = QUERIES["source_vocab_overlap"](spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.source_a < r.source_b
        assert 0.0 < r.jaccard <= 1.0, r
        assert (r.source_a, r.source_b) not in seen
        seen.add((r.source_a, r.source_b))


def test_qsketch_always_within_bin_bound(spark, sf_dir):
    """The histogram-sketch contract: every quantile estimate is
    within one bin width above the exact discrete percentile."""
    rows = QUERIES["qsketch_price_quantiles"](spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.within_bin_bound, r
        assert 0 <= r.est_upper_cents - r.exact_cents, r


def test_triangle_census_known_graph(spark):
    """Degree-ordered wedge counting on K4 (4 triangles, clustering
    coefficient exactly 1) — validates orientation + closure logic
    independently of the co-purchase edge construction."""
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    und = spark.createDataFrame(edges, "u long, v long").persist()
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select("v"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    o1 = oriented.select("src", F.col("dst").alias("x"))
    o2 = oriented.select("src", F.col("dst").alias("y"))
    wedge = o1.join(o2, "src").filter(F.col("x") < F.col("y"))
    t = wedge.join(
        und,
        (F.col("u") == F.least("x", "y")) & (F.col("v") == F.greatest("x", "y")),
    ).count()
    assert t == 4


def test_triangle_census_consistency(spark, sf_dir):
    """Clustering coefficient in [0, 1]; triangles cannot exceed
    wedges / 3 of the closure bound."""
    r = QUERIES["copurchase_triangle_census"](spark, sf_dir).collect()[0]
    assert 0 <= r.global_clustering <= 1.0
    assert 3 * r.n_triangles <= r.n_wedges
    assert r.n_edges <= r.n_nodes * (r.n_nodes - 1) // 2


def test_selfjoin_estimate_contract(spark, sf_dir):
    """The AMS/CMS F2 estimator can only overestimate, and the true
    self-join size is bounded below by n (every row matches itself)."""
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    r = QUERIES["selfjoin_size_estimate"](spark, sf_dir).collect()[0]
    assert r.overestimate >= 0
    assert r.inflation_ratio >= 1.0
    n = load_tables(spark, sf_dir)["lineitem"].count()
    assert r.exact_f2 >= n


def test_sim_histogram_conserves_pairs(spark, sf_dir):
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    df = QUERIES["emb_pairwise_sim_histogram"](spark, sf_dir)
    total = df.agg(F.sum("n_pairs")).collect()[0][0]
    n = load_tables(spark, sf_dir)["embeddings"].count()
    assert total == n - 1  # consecutive ids: exactly n-1 pairs
    for r in df.collect():
        assert -1.0 - 1e-9 <= r.min_sim <= r.max_sim <= 1.0 + 1e-9


def test_seasonal_index_first_month_is_one(spark, sf_dir):
    """Month 1's trailing window is just itself — index exactly 1."""
    rows = QUERIES["monthly_seasonal_index"](spark, sf_dir).collect()
    first = min(rows, key=lambda r: r.month)
    assert first.seasonal_index == 1.0
    for r in rows:
        assert r.trailing_avg_cents > 0


def test_streaming_first_touch_matches_batch(spark, sf_dir, tmp_path):
    """Replaying events through the mergeable-MIN first-touch mart
    must reproduce the batch per-user conditional minima exactly."""
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables
    from event_driven_data_pipeline_for_e_commerce_spark.streaming.streams import (
        first_touch_foreach_batch,
        read_event_stream,
    )

    src = str(tmp_path / "events_src")
    events = load_tables(spark, sf_dir)["events"]
    events.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    target = str(tmp_path / "first_touch")

    q = (
        read_event_stream(spark, src, schema)
        .writeStream.foreachBatch(first_touch_foreach_batch(target))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("maxFilesPerTrigger", 2)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        r.user_id: (r.first_view_us, r.first_purchase_us)
        for r in spark.read.parquet(target).collect()
    }
    want = {
        r.user_id: (r.first_view_us, r.first_purchase_us)
        for r in events.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.unix_micros("ts"))
            ).alias("first_view_us"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
            ).alias("first_purchase_us"),
        )
        .collect()
    }
    assert got == want and got


def test_ewm_constant_supplier_momentum_is_one(spark):
    """EWM of a constant monthly series equals the plain mean — the
    momentum ratio must be exactly 1 (power-of-two weights are exact,
    so this holds with == not approx)."""
    import pyspark.sql.functions as F2

    monthly = spark.createDataFrame(
        [(1, m, 100) for m in range(24000, 24012)],
        "l_suppkey long, m long, qty long",
    )
    anchor = monthly.agg(F2.max("m").alias("max_m"))
    weighted = monthly.crossJoin(F2.broadcast(anchor)).select(
        "l_suppkey", "qty",
        F2.pow(F2.lit(0.5), F2.col("max_m") - F2.col("m")).alias("wt"),
    )
    r = weighted.groupBy("l_suppkey").agg(
        (F2.sum(F2.col("qty") * F2.col("wt")) / F2.sum("wt")).alias("ewm"),
        (F2.sum("qty") / F2.count(F2.lit(1))).alias("avg"),
    ).collect()[0]
    assert r.ewm == r.avg == 100.0


def test_metric_layer_matches_handwritten_monthly_revenue(spark, sf_dir):
    """The compiled (month, revenue) request must equal the
    handwritten monthly_revenue corpus query row-for-row."""
    from event_driven_data_pipeline_for_e_commerce_spark.metrics import compile_metrics
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    compiled = {
        (r.month, r.revenue)
        for r in compile_metrics(
            load_tables(spark, sf_dir), ["revenue"], ["month"]
        ).collect()
    }
    hand = {
        tuple(r) for r in QUERIES["monthly_revenue"](spark, sf_dir).collect()
    }
    assert compiled == hand and compiled


def test_metric_layer_single_aggregation_pass(spark, sf_dir):
    """All measures of a request must fold in ONE aggregate (two
    HashAggregate nodes = partial + final; distinct adds its expand
    pass but never a second scan) with every dimension hop broadcast."""
    from event_driven_data_pipeline_for_e_commerce_spark.metrics import compile_metrics
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    df = compile_metrics(
        load_tables(spark, sf_dir), ["revenue", "order_cnt", "avg_order_value"],
        ["quarter", "segment"],
    )
    plan = df._jdf.queryExecution().simpleString()
    assert plan.count("Scan parquet") == 2, plan  # orders + customer, once each
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan


def test_metric_layer_unknown_names_raise(spark, sf_dir):
    from event_driven_data_pipeline_for_e_commerce_spark.metrics import compile_metrics
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    import pytest as _pytest

    t = load_tables(spark, sf_dir)
    with _pytest.raises(KeyError):
        compile_metrics(t, ["nope"], ["month"])
    with _pytest.raises(KeyError):
        compile_metrics(t, ["revenue"], ["nope"])


def test_inverted_index_matches_inline_search(spark, sf_dir, tmp_path):
    """Searching the materialized index must reproduce the inline
    doc_keyword_search results exactly, and the term probe must push
    into the postings scan."""
    from event_driven_data_pipeline_for_e_commerce_spark.llmdata.index import (
        build_inverted_index,
        search_index,
    )
    from event_driven_data_pipeline_for_e_commerce_spark.plans.round3_queries import (
        SEARCH_TERMS,
    )
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    path = str(tmp_path / "idx")
    build_inverted_index(load_tables(spark, sf_dir)["documents"], path)

    got = search_index(spark, path, SEARCH_TERMS)
    want = {tuple(r) for r in QUERIES["doc_keyword_search"](spark, sf_dir).collect()}
    assert {tuple(r) for r in got.collect()} == want and want

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = got._jdf.queryExecution().explainString(mode)
    assert "PushedFilters" in plan and "In(tok" in plan, plan


def test_inverted_index_postings_sorted_by_token(spark, sf_dir, tmp_path):
    """Row groups must cover tight token ranges: within every index
    file the postings are token-sorted (the min/max-skipping
    precondition)."""
    import pyspark.sql.functions as F2

    from event_driven_data_pipeline_for_e_commerce_spark.llmdata.index import (
        build_inverted_index,
    )
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    path = str(tmp_path / "idx")
    build_inverted_index(load_tables(spark, sf_dir)["documents"], path)
    post = spark.read.parquet(f"{path}/postings").select(
        F2.input_file_name().alias("f"), "tok"
    )
    # max(min over other files) style check: files partition the token
    # range, so per-file [min, max] intervals must not interleave except
    # at boundaries
    spans = post.groupBy("f").agg(
        F2.min("tok").alias("lo"), F2.max("tok").alias("hi")
    ).collect()
    spans = sorted([(r.lo, r.hi) for r in spans])
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (hi1, lo2)


def test_ivf_index_matches_inline_topk(spark, sf_dir, tmp_path):
    """Searching the persisted IVF index must reproduce the inline
    ivf_topk results, and the probe must prune list partitions."""
    from event_driven_data_pipeline_for_e_commerce_spark.llmdata.index import (
        build_ivf_index,
        search_ivf_index,
    )
    from event_driven_data_pipeline_for_e_commerce_spark.llmdata.similarity import (
        ivf_topk,
    )
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_lists=16)

    got = search_ivf_index(spark, path, queries, nprobe=4, k=3)
    want = {
        tuple(r) for r in ivf_topk(emb, queries, n_lists=16, nprobe=4, k=3).collect()
    }
    assert {tuple(r) for r in got.collect()} == want and want

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = got._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters" in plan and "list_id" in plan.split(
        "PartitionFilters", 1
    )[1][:200], plan


def test_benford_shares_sum_to_100(spark, sf_dir):
    rows = QUERIES["benford_first_digit_audit"](spark, sf_dir).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.observed_pct for r in rows) - 100.0) < 0.1


def test_part_recommendations_ranked_and_symmetric_support(spark, sf_dir):
    df = QUERIES["part_recommendations"](spark, sf_dir)
    rows = df.collect()
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r.l_partkey, []).append(r)
    for src, rs in by_src.items():
        ranks = sorted(x.rank for x in rs)
        assert ranks == list(range(1, len(rs) + 1))
        sups = [x.support for x in sorted(rs, key=lambda x: x.rank)]
        assert sups == sorted(sups, reverse=True)


def test_pareto_classes_partition_customers(spark, sf_dir):
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    rows = {r.abc_class: r for r in QUERIES["customer_pareto_abc"](spark, sf_dir).collect()}
    n_cust = (
        load_tables(spark, sf_dir)["orders"].select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in rows.values()) == n_cust
    share = sum(r.revenue_share_pct for r in rows.values())
    assert abs(share - 100.0) < 0.01
    if "A" in rows and "C" in rows:
        # concentration: A customers are fewer but carry more revenue
        assert rows["A"].class_cents > rows["C"].class_cents


def test_gini_bounds_and_conservation(spark, sf_dir):
    r = QUERIES["part_revenue_gini"](spark, sf_dir).collect()[0]
    assert 0.0 <= r.gini < 1.0
    assert r.n_parts > 0 and r.total_cents > 0


def test_autocorr_in_valid_range(spark, sf_dir):
    r = QUERIES["daily_revenue_autocorr"](spark, sf_dir).collect()[0]
    assert -1.0 <= r.lag1_autocorr <= 1.0
    assert r.n_days > 0


def test_peak_rate_at_least_global_max_burst(spark, sf_dir):
    """A user's 60s peak is at least any single-second burst count."""
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    sec_bursts = (
        ev.select(
            "user_id",
            (F.unix_micros("ts") / 1_000_000).cast("long").alias("sec"),
        )
        .groupBy("user_id", "sec")
        .agg(F.count(F.lit(1)).alias("burst"))
        .groupBy("user_id")
        .agg(F.max("burst").alias("max_burst"))
    )
    peaks = {
        r.user_id: r.peak_events_per_min
        for r in QUERIES["user_peak_event_rate"](spark, sf_dir).collect()
    }
    for r in sec_bursts.collect():
        if r.user_id in peaks:
            assert peaks[r.user_id] >= r.max_burst


def test_streaming_peak_rate_matches_batch_tumbling(spark, sf_dir, tmp_path):
    """AvailableNow replay of the per-minute user rate stream must
    equal the batch tumbling aggregate."""
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables
    from event_driven_data_pipeline_for_e_commerce_spark.streaming.streams import (
        peak_rate_stream,
        read_event_stream,
    )

    src = str(tmp_path / "events_src")
    events = load_tables(spark, sf_dir)["events"]
    events.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    # append-mode windows only emit once the watermark passes them;
    # flush end-of-replay windows with a far-future sentinel (user -1,
    # excluded from the comparison) — the standard pattern
    sentinel = (
        spark.read.parquet(src)
        .limit(1)
        .withColumn("user_id", F.lit(-1).cast("long"))
        .withColumn("ts", F.to_timestamp(F.lit("2100-01-01 00:00:00")))
    )
    sentinel.write.mode("append").parquet(src)
    out = str(tmp_path / "rates")

    q = (
        peak_rate_stream(read_event_stream(spark, src, schema))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r.user_id, r.minute_start, r.events_1m)
        for r in spark.read.parquet(out).collect()
        if r.user_id >= 0
    }
    want = {
        (r.user_id, r.minute_start, r.events_1m)
        for r in events.groupBy(
            "user_id", F.window("ts", "1 minute").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("events_1m"))
        .select("user_id", F.col("w.start").alias("minute_start"), "events_1m")
        .collect()
    }
    assert got == want and got


def test_cms_never_seen_key_estimates_zero_and_nulls_excluded(spark):
    """CMS contract fixes (r3 ADVICE): (a) a probe key absent from the
    stream must return cms_est = 0 — not vanish (inner-join drop) or
    inflate (min over only colliding cells); (b) NULL keys must not be
    counted into the sketch (the SQL-oracle form drops them, so the
    Spark side must too)."""
    from event_driven_data_pipeline_for_e_commerce_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
    )

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 2 + [(None,)] * 3, "k string"
    )
    sketch = cms_sketch(df, "k")
    # (b) NULL rows contribute nothing: total mass == non-null rows x depth
    assert (
        sketch.groupBy().sum("c").collect()[0][0]
        == cms_sketch(df.filter("k IS NOT NULL"), "k")
        .groupBy()
        .sum("c")
        .collect()[0][0]
    )
    probes = spark.createDataFrame(
        [("a",), ("never-seen",), (None,)], "k string"
    )
    got = {r.k: r.cms_est for r in cms_estimate(sketch, probes, "k").collect()}
    # (a) never-seen key present with estimate 0; NULL probe dropped
    assert got["never-seen"] == 0
    assert got["a"] >= 5
    assert None not in got
