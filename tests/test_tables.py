"""The table catalog: ``load_tables`` opens a table on first lookup,
caches the opened frame per session and directory, re-opens it when the
files change, and behaves as a read-only mapping."""

from __future__ import annotations

import itertools
import sys
import threading
from contextlib import contextmanager

import pytest
from pyspark.sql import DataFrame

from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import TABLES, load_tables

_groups = itertools.count()


@contextmanager
def spark_jobs(spark):
    """Collect the ids of the Spark jobs the block runs into the yielded list."""
    sc = spark.sparkContext
    group = f"test-tables-{next(_groups)}"
    sc.setJobGroup(group, group)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def write_rows(spark, path: str, n: int) -> None:
    spark.range(n).selectExpr("id AS n_nationkey", "CAST(id AS STRING) AS n_name").write.mode(
        "overwrite"
    ).parquet(path)


def test_load_tables_runs_no_job(spark, sf_dir):
    with spark_jobs(spark) as jobs:
        load_tables(spark, sf_dir)
    assert jobs == []


def test_opened_table_is_cached(spark, sf_dir):
    with spark_jobs(spark) as first:
        nation = load_tables(spark, sf_dir)["nation"]
    assert len(first) <= 1
    with spark_jobs(spark) as second:
        again = load_tables(spark, sf_dir)["nation"]
    assert again is nation
    assert second == []


def test_table_rewritten_in_place_is_read_again(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    write_rows(spark, path, 3)
    assert load_tables(spark, str(tmp_path))["nation"].count() == 3
    write_rows(spark, path, 5)
    assert load_tables(spark, str(tmp_path))["nation"].count() == 5


def test_catalog_is_a_read_only_mapping(spark, sf_dir, tmp_path):
    # written out of TABLES order; iteration still follows TABLES
    write_rows(spark, str(tmp_path / "orders.parquet"), 2)
    write_rows(spark, str(tmp_path / "nation.parquet"), 2)
    t = load_tables(spark, str(tmp_path))
    with spark_jobs(spark) as jobs:
        assert "orders" in t and "supplier" not in t
    assert jobs == []  # membership opens nothing
    assert list(t) == ["nation", "orders"]
    assert len(t) == 2
    assert list(load_tables(spark, sf_dir)) == list(TABLES)
    with pytest.raises(KeyError):
        t["supplier"]  # a known table that is not in this directory
    with pytest.raises(KeyError):
        t["no_such_table"]
    with pytest.raises(TypeError):
        t["nation"] = t["orders"]
    items = dict(t.items())
    assert list(items) == ["nation", "orders"]
    assert all(isinstance(df, DataFrame) for df in items.values())


def test_new_session_gets_its_own_frames(spark, sf_dir):
    other = spark.newSession()
    mine = load_tables(spark, sf_dir)["nation"]
    theirs = load_tables(other, sf_dir)["nation"]
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert mine.sparkSession is spark
    assert theirs.count() == mine.count()


def test_concurrent_first_lookups_open_the_table_once(spark, tmp_path):
    write_rows(spark, str(tmp_path / "nation.parquet"), 4)
    t = load_tables(spark, str(tmp_path))
    got: list[DataFrame] = []
    start = threading.Barrier(8)

    def lookup() -> None:
        start.wait(timeout=60)
        got.append(t["nation"])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=lookup) for _ in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert len(got) == 8 and all(df is got[0] for df in got)
