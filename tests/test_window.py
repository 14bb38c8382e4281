"""The correctness window is a function of the committed
``CORRECTNESS_r*.json`` reports (``__spark_entry__.window``). Fed the
reports and priority names each past round had, it must reproduce
that round's window exactly."""

from __future__ import annotations

import __spark_entry__ as se
from event_driven_data_pipeline_for_e_commerce_spark.plans.corpus import ORACLES, QUERIES

R11_PRIORITY = (
    "daily_revenue_best_split",
    "emb_intrinsic_dimension_2nn",
    "event_markov_stationary",
)
R12_PRIORITY = (
    "doc_simhash_near_dup",
    "doc_dedup_family_agreement",
    "doc_dedup_family_agreement_survivors",
    "part_copurchase_pagerank",
    "copurchase_triangle_census",
    "session_event_type_affinity",
    "events_watermark_drop_sweep",
    "doc_dedup_detector_kappa",
    "emb_ann_recall_contract",
)


def test_window_reproduces_committed_rounds():
    reports = se.correctness_reports()
    assert len(reports) >= 12
    names = list(QUERIES)
    for upto, priority in ((10, R11_PRIORITY), (11, R12_PRIORITY)):
        derived = se.window(names, reports[:upto], priority)
        assert derived[:50] == list(reports[upto]), f"r{upto + 1:02d}"


def test_window_rule_on_a_toy_history():
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    red = {**green, "hash_match": False}
    reports = [{"a": green, "b": green, "c": red}, {"a": green, "d": green}]
    assert se.window(["a", "b", "c", "d", "e"], reports, ("d", "x")) == ["d", "c", "e", "b", "a"]


def test_queries_and_oracles_share_one_order_over_the_corpus():
    q, o = list(se.queries()), list(se.oracle_sql())
    assert q == o
    assert sorted(q) == sorted(QUERIES) == sorted(ORACLES)
    assert len(set(q)) == len(q)
    assert q == se.window(list(QUERIES), se.correctness_reports(), se.PRIORITY)
