"""Session-semantics armor: every public entry point must behave
identically on a DRIVER-PROVIDED session with hostile settings (ANSI
mode on, non-UTC timezone) — ``apply_session_semantics`` (called from
``load_tables``, which ``@query`` runs for every registered query)
resets them."""

from __future__ import annotations

import pytest

from event_driven_data_pipeline_for_e_commerce_spark.plans.corpus import QUERIES


@pytest.fixture
def hostile(spark):
    prev = {
        "spark.sql.ansi.enabled": spark.conf.get("spark.sql.ansi.enabled"),
        "spark.sql.session.timeZone": spark.conf.get("spark.sql.session.timeZone"),
    }
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield spark
    for k, v in prev.items():
        spark.conf.set(k, v)


@pytest.mark.parametrize(
    "name",
    [
        # casts junk strings -> NULL; under ANSI that raises, so a
        # correct non-empty result proves the reset happened
        "tolerant_extract_cast",
        # reads no table: the reset must not depend on the builder
        # opening one
        "doc_minhash_band_planner",
    ],
)
def test_hostile_session_is_reset_by_entry_points(hostile, sf_dir, name):
    rows = QUERIES[name](hostile, sf_dir).collect()
    assert len(rows) > 0
    assert hostile.conf.get("spark.sql.ansi.enabled") == "false"
    assert hostile.conf.get("spark.sql.session.timeZone") == "UTC"


def test_hostile_timezone_does_not_shift_date_keys(hostile, sf_dir):
    # date_sk is defined in UTC; a lingering America/New_York session
    # zone would shift yyyymmdd keys across midnight boundaries
    rows = QUERIES["date_sk_rollup"](hostile, sf_dir).collect()
    assert all(19000101 < r["date_sk"] < 21000101 for r in rows)
    assert hostile.conf.get("spark.sql.session.timeZone") == "UTC"


def test_loaded_timestamps_are_session_zone(spark):
    """Regression guard for driver testdata schema drift: events.ts has
    been TIMESTAMP(NANOS) (round 1) and timezone-less timestamp[us]
    (round 2, read as TIMESTAMP_NTZ unless inference is disabled).
    Whatever the parquet stores, load_tables must surface plain
    session-zone TimestampType — every temporal operator
    (unix_micros bucketing, watermarks, windows) depends on it."""
    from pyspark.sql.types import TimestampType

    from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    assert isinstance(t["events"].schema["ts"].dataType, TimestampType)
    assert isinstance(t["orders"].schema["o_orderdate"].dataType, TimestampType)
    assert isinstance(t["lineitem"].schema["l_shipdate"].dataType, TimestampType)
