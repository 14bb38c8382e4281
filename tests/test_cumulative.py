"""Value-bucketed cumulative/rank operators (operators/cumulative.py)
— parity with the naive global-window form they replace, including
duplicate order keys, negative values, NULL and constant leads, a
descending string lead, and more partitions than rows; and building
every keyed operator runs no Spark job."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from event_driven_data_pipeline_for_e_commerce_spark.operators.cumulative import (
    _bucketed,
    row_number_ranged,
    running_max_ranged,
    running_sum_ranged,
)
from event_driven_data_pipeline_for_e_commerce_spark.operators.scd2 import scd2_init, scd2_merge
from event_driven_data_pipeline_for_e_commerce_spark.operators.surrogate_keys import (
    with_surrogate_key_ranged,
    with_surrogate_key_scalable,
)
from tests.test_tables import spark_jobs

# every order is total: `key` is unique
ORDERS = {
    "cents_desc": [("cents", False), ("key", True)],
    "cents_asc": [("cents", True), ("key", True)],
    "string_desc": [("key", False)],
    "nulls_asc": [("nv", True), ("key", True)],
    "nulls_desc": [("nv", False), ("key", True)],
    "constant": [("one", True), ("key", False)],
}


@pytest.fixture
def frame(spark):
    # duplicate cents values force the tie-break column to matter;
    # negative values exercise the prefix sums' sign handling; every
    # fifth nv is NULL
    rows = [
        (i, (i * 37) % 11 - 3, f"k{i:03d}", None if i % 5 == 0 else 1000 - i, 1)
        for i in range(257)
    ]
    return spark.createDataFrame(rows, "id long, cents long, key string, nv long, one int")


def _sort(order):
    return [F.col(c).asc() if asc else F.col(c).desc() for c, asc in order]


def _by_key(df, col):
    return {r.key: r[col] for r in df.select("key", col).collect()}


def test_running_sum_matches_global_window(spark, frame):
    for name, order in ORDERS.items():
        got = _by_key(running_sum_ranged(frame, order, "cents", "cum"), "cum")
        w = Window.orderBy(*_sort(order)).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        assert got == _by_key(frame.withColumn("cum", F.sum("cents").over(w)), "cum"), name


def test_row_number_matches_global_window(spark, frame):
    for name, order in ORDERS.items():
        got = _by_key(row_number_ranged(frame, order, "i"), "i")
        w = Window.orderBy(*_sort(order))
        assert got == _by_key(frame.withColumn("i", F.row_number().over(w).cast("long")), "i"), name


@pytest.mark.parametrize("inclusive", [True, False], ids=["inclusive", "exclusive"])
def test_running_max_matches_global_window(spark, frame, inclusive):
    for name, order in ORDERS.items():
        got = _by_key(running_max_ranged(frame, order, "nv", "m", inclusive=inclusive), "m")
        w = Window.orderBy(*_sort(order)).rowsBetween(
            Window.unboundedPreceding, 0 if inclusive else -1
        )
        assert got == _by_key(frame.withColumn("m", F.max("nv").over(w)), "m"), name


def test_buckets_follow_the_lead_spread(spark, frame):
    def buckets(order):
        return _bucketed(frame, order, 4).select("__pid").distinct().count()

    # the parity tests above run through several buckets, not one
    assert buckets(ORDERS["string_desc"]) > 1
    assert buckets(ORDERS["nulls_asc"]) > 1
    assert buckets(ORDERS["constant"]) == 1


def test_offset_may_be_a_column(spark, frame):
    offset = frame.agg(F.max("id")).scalar()
    got = row_number_ranged(frame, ORDERS["cents_asc"], "i", offset=offset)
    assert sorted(r.i for r in got.collect()) == list(range(257, 514))


def test_more_partitions_than_rows(spark):
    tiny = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "v long, k string"
    )
    got = sorted(
        (r.k, r.i)
        for r in row_number_ranged(
            tiny, [("v", True)], "i", partitions=16
        ).collect()
    )
    assert got == [("a", 1), ("b", 2), ("c", 3)]


def test_plan_window_is_pid_partitioned(spark, frame):
    df = running_sum_ranged(frame, ORDERS["cents_asc"], "cents", "cum")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(__pid" in plan, plan


def test_keyed_operators_build_without_a_job(spark, frame, tmp_path):
    tracked = ["cents", "nv"]
    frame.write.parquet(str(tmp_path / "frame"))
    pq = spark.read.parquet(str(tmp_path / "frame"))
    staged = pq.select("key", *tracked)
    scd2_init(staged, "key", tracked, F.lit("2024-01-01")).write.parquet(str(tmp_path / "dim"))
    dim = spark.read.parquet(str(tmp_path / "dim"))
    with spark_jobs(spark) as jobs:
        running_sum_ranged(pq, ORDERS["cents_desc"], "cents", "cum")
        row_number_ranged(pq, ORDERS["nulls_desc"], "i")
        running_max_ranged(pq, ORDERS["string_desc"], "nv", "m", inclusive=False)
        with_surrogate_key_ranged(pq, "key", "sk", offset=5)
        with_surrogate_key_scalable(pq, "sk", offset=5)
        scd2_init(staged, "key", tracked, F.lit("2024-01-01"))
        scd2_merge(dim, staged, "key", tracked, F.lit("2024-02-01"))
    assert jobs == []
