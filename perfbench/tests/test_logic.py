"""Checks of the benchmark's own logic: generator ground truth,
event-log fold, comparator and statistics.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import json
import math
import os
import statistics
from datetime import datetime

import pandas as pd
import pytest

import eventlog
import gen
import oracle
import stats

# ------------------------------------------------------------------ generator


def _read_csv(path):
    with open(path, newline="", encoding="utf-8") as fh:
        rows = list(csv.reader(fh))
    return rows[0], rows[1:]


def _parses(s: str) -> bool:
    for fmt in ("%Y-%m-%d %H:%M:%S", "%d-%m-%Y %H:%M"):
        try:
            datetime.strptime(s, fmt)
            return True
        except ValueError:
            pass
    return False


@pytest.fixture(scope="module")
def olist(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("olist"))
    truth = gen.make_olist(out, seed=3, scale=0.004, n_change_files=3)
    return out, truth


def test_generator_silver_truth_recounts_from_csvs(olist):
    out, truth = olist
    raw = os.path.join(out, "raw")
    _, pays = _read_csv(os.path.join(raw, "raw_payments.csv"))
    assert len(pays) - len({tuple(r) for r in pays}) == truth["payment_dups"] > 0
    assert truth["silver_rows"]["raw_payments"] == len({tuple(r) for r in pays})
    _, orders = _read_csv(os.path.join(raw, "raw_orders.csv"))
    valid = {r[0] for r in orders if _parses(r[3]) and r[4] and _parses(r[4])}
    assert 0 < len(valid) < len(orders)  # dirty dates were injected and drop
    assert truth["silver_rows"]["raw_orders"] == len(valid)
    _, items = _read_csv(os.path.join(raw, "raw_order_items.csv"))
    assert truth["fact_rows"] == sum(r[0] in valid for r in items)
    # NULL numerics and strings are present for Silver to fill
    _, products = _read_csv(os.path.join(raw, "raw_products.csv"))
    _, customers = _read_csv(os.path.join(raw, "raw_customers.csv"))
    assert any(r[1] == "" for r in products) or any(r[3] == "" for r in customers)
    assert json.load(open(os.path.join(out, "truth.json"))) == truth


def test_generator_cdc_truth_replays_with_pandas(olist):
    out, truth = olist
    cdc = truth["cdc"]
    files = sorted(os.listdir(os.path.join(out, "cdc")))
    assert len(files) == cdc["files"] == 4  # 3 change files and a replay
    mtimes = [os.path.getmtime(os.path.join(out, "cdc", f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    current: dict = {}
    hwm, expired, inserted, staged, late = None, 0, 0, 0, 0
    for f in files:
        df = pd.read_parquet(os.path.join(out, "cdc", f))
        fresh = df if hwm is None else df[df.ts > hwm]
        late += len(df) - len(fresh)
        staged += len(fresh)
        latest = fresh.sort_values("ts").groupby("order_id").tail(1)
        for r in latest.itertuples():
            new = (r.order_status, r.order_value)
            if r.order_id not in current:
                inserted += 1
            elif current[r.order_id] != new:
                expired += 1
                inserted += 1
            current[r.order_id] = new
        hwm = df.ts.max() if hwm is None else max(hwm, df.ts.max())
        if f.endswith("_replay.parquet"):
            assert fresh.empty
        elif f != files[0]:
            assert fresh.order_id.duplicated().any()  # a key changed twice
    assert late > 0  # rows at or below the high-water mark were delivered
    assert (staged, expired, inserted) == (cdc["staged_rows"], cdc["expired"], cdc["inserted"])
    assert {k: list(v) for k, v in current.items()} == cdc["current"]
    assert cdc["dim_rows"] == inserted > cdc["initial"]


def test_generator_is_a_function_of_the_seed(tmp_path):
    a = gen.make_star(str(tmp_path / "a"), seed=5, sf=0.001)
    b = gen.make_star(str(tmp_path / "b"), seed=5, sf=0.001)
    c = gen.make_star(str(tmp_path / "c"), seed=6, sf=0.001)
    assert a == b
    for t in a:
        pa_, pb = (pd.read_parquet(str(tmp_path / d / f"{t}.parquet")) for d in "ab")
        pd.testing.assert_frame_equal(pa_, pb)
    li = [pd.read_parquet(str(tmp_path / d / "lineitem.parquet")) for d in "ac"]
    assert not li[0].equals(li[1])


# ------------------------------------------------------------------ event log


def _ev(**kw):
    return json.dumps(kw)


def _task(stage, run_ms, shuffle_write=0, shuffle_read=0, spill=0):
    return _ev(
        Event="SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * 1_000_000,
                "JVM GC Time": 1,
                "Disk Bytes Spilled": spill,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            },
        },
    )


def test_fold_synthetic_log():
    lines = [
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
                                              "Properties": {"spark.jobGroup.id": "q:a:run"}}),
        _task(0, 10, shuffle_write=100),
        _task(0, 30, shuffle_write=50),
        _task(1, 5, shuffle_read=150),
        # job 1 lists stage 1 again (skipped, reuses the shuffle) and stage 2
        _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 2000, "Stage IDs": [1, 2],
                                              "Properties": {"spark.jobGroup.id": "q:b:construct"}}),
        _task(2, 4, spill=2_000_000),
    ]
    log = eventlog.fold(lines)
    a = log.totals(lambda j: j.group == "q:a:run")
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 3)
    assert a["shuffle_write_mb"] == 150 / 1e6 and a["shuffle_read_mb"] == 150 / 1e6
    assert a["task_skew"] == 30 / 20  # slowest stage 0: max 30 over median 20
    b = log.totals(lambda j: j.submit_ms >= 2000)
    assert (b["jobs"], b["stages"], b["tasks"], b["spill_mb"]) == (1, 1, 1, 2.0)
    assert log.totals()["executor_run_s"] == pytest.approx(0.049)


def test_fold_matches_a_log_built_in_session(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    logdir = tmp_path / "events"
    logdir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{logdir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setJobGroup("agg", "one shuffle")
        rows = spark.range(0, 1000, 1, 4).selectExpr("id % 10 AS k").groupBy("k").count().collect()
        sc.setJobGroup("scan", "no shuffle")
        n = spark.range(0, 100, 1, 2).count()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        from probes import SparkStatus

        status_bytes = SparkStatus(spark).shuffle_write_bytes_since_last()
    finally:
        spark.stop()
    assert len(rows) == 10 and n == 100
    (path,) = list(logdir.iterdir())
    log = eventlog.fold_file(str(path))
    agg = log.totals(lambda j: j.group == "agg")
    # one job: a 4-task map stage writing the shuffle, a 3-task reduce stage
    assert (agg["jobs"], agg["stages"], agg["tasks"]) == (1, 2, 7)
    assert agg["shuffle_write_mb"] > 0
    assert agg["shuffle_read_mb"] == pytest.approx(agg["shuffle_write_mb"])
    scan = log.totals(lambda j: j.group == "scan")
    assert scan["jobs"] >= 1 and scan["shuffle_write_mb"] >= 0
    # the status store, read without an event log, agrees on shuffle bytes
    assert log.totals()["shuffle_write_mb"] * 1e6 == pytest.approx(status_bytes)


# ------------------------------------------------------------------ comparator


def test_comparator_accepts_reordered_rows_and_float_noise():
    want = oracle.normalize(["b", "a"], [(1.0, "x"), (2.5, "y")])
    got = oracle.normalize(["a", "b"], [("y", 2.5000000001), ("x", 1)])
    assert oracle.compare(got, want) is None


def test_comparator_flags_a_perturbed_answer():
    rows = [(1, 10.123456, "x"), (2, 20.0, None)]
    want = oracle.normalize(["k", "v", "s"], rows)
    assert "row" in oracle.compare(oracle.normalize(["k", "v", "s"], [(1, 10.1235, "x"), (2, 20.0, None)]), want)
    assert "row count" in oracle.compare(oracle.normalize(["k", "v", "s"], rows[:1]), want)
    assert "columns" in oracle.compare(oracle.normalize(["k", "w", "s"], rows), want)
    assert "row" in oracle.compare(oracle.normalize(["k", "v", "s"], [(1, 10.123456, "x"), (2, 20.0, "")]), want)


# ------------------------------------------------------------------ statistics


def test_geomean_of_medians():
    samples = {"a": [1.0, 9.0, 4.0], "b": [16.0], "c": []}
    # medians 4 and 16 (c failed every pass and is left out)
    assert stats.geomean_of_medians(samples) == pytest.approx(8.0)
    with pytest.raises(ValueError):
        stats.geomean([0.0, 1.0])


def test_pass_median_and_rates():
    assert stats.median([3.0, 1.0, 2.0, 10.0]) == 2.5
    assert stats.ops_per_min(8, [4.0, 5.0, 6.0]) == pytest.approx(96.0)
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert stats.spread(vals)["spread"] == pytest.approx((q3 - q1) / 5.5)
    assert math.isinf(stats.spread([0.0, 0.0, 0.0])["spread"])
