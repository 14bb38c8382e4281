"""Incremental rollup maintenance (operators/incremental.py): the
merged mart after N batches must equal the one-shot batch recompute,
and key-refresh must replace exactly the recomputed groups."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from event_driven_data_pipeline_for_e_commerce_spark.operators.incremental import (
    merge_rollup,
    refresh_keys,
    rollup_batch,
)
from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

MEASURES = {
    "revenue": ("sum", "value"),
    "n_events": ("count", "value"),
    "max_value": ("max", "value"),
    "first_seen": ("min", "ts"),
}
KEYS = ["event_type"]


def _rows(df):
    return {
        r["event_type"]: (
            round(r["revenue"], 6), r["n_events"], round(r["max_value"], 6),
            r["first_seen"],
        )
        for r in df.collect()
    }


def test_incremental_equals_full_recompute(spark, sf_dir):
    """Replaying the event log in 3 disjoint slices through
    merge_rollup must land on the same mart as one full aggregation."""
    events = load_tables(spark, sf_dir)["events"]
    full = rollup_batch(events, KEYS, MEASURES)

    mart = None
    for i in range(3):
        batch = events.filter(F.col("event_id") % 3 == i)
        mart = merge_rollup(mart, rollup_batch(batch, KEYS, MEASURES), KEYS, MEASURES)
    assert _rows(mart) == _rows(full)


def test_refresh_keys_replaces_only_targeted_groups(spark, sf_dir):
    events = load_tables(spark, sf_dir)["events"]
    mart = rollup_batch(events, KEYS, MEASURES)
    # simulate reprocessing 'purchase' with corrected (halved) values
    corrected = rollup_batch(
        events.filter(F.col("event_type") == "purchase").withColumn(
            "value", F.col("value") / 2
        ),
        KEYS,
        MEASURES,
    )
    out = _rows(refresh_keys(mart, corrected, KEYS))
    base = _rows(mart)
    assert out["purchase"][0] == pytest.approx(base["purchase"][0] / 2)
    for k in base:
        if k != "purchase":
            assert out[k] == base[k]


def test_non_mergeable_measures_rejected(spark):
    df = spark.range(5).select(F.col("id"), F.lit("a").alias("k"))
    with pytest.raises(ValueError, match="non-mergeable"):
        rollup_batch(df, ["k"], {"med": ("median", "id")})


def test_streaming_rollup_foreach_batch_matches_batch(spark, sf_dir, tmp_path):
    """Replaying the event log as a stream through rollup_foreach_batch
    (micro-batch merge into a Parquet mart) must land on the same mart
    as one batch aggregation."""
    from event_driven_data_pipeline_for_e_commerce_spark.streaming.streams import (
        read_event_stream,
        rollup_foreach_batch,
    )

    src = str(tmp_path / "events_src")
    events = load_tables(spark, sf_dir)["events"]
    # several files so availableNow may split micro-batches
    events.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    target = str(tmp_path / "mart")

    q = (
        read_event_stream(spark, src, schema)
        .writeStream.foreachBatch(rollup_foreach_batch(target, KEYS, MEASURES))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("maxFilesPerTrigger", 2)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = _rows(spark.read.parquet(target))
    want = _rows(rollup_batch(events, KEYS, MEASURES))
    assert got == want


def test_high_water_mark_ingest_idempotent(spark, sf_dir, tmp_path):
    """Split ingest equals full ingest; re-running ingests nothing."""
    from event_driven_data_pipeline_for_e_commerce_spark.operators.incremental import (
        high_water_mark,
        ingest_increment,
    )

    events = load_tables(spark, sf_dir)["events"]
    cutoff = events.agg(
        F.percentile_approx("ts", 0.5).alias("c")
    ).collect()[0][0]
    mart = str(tmp_path / "events_mart")

    n1, fresh1 = ingest_increment(events.filter(F.col("ts") <= cutoff), mart, "ts")
    n2, fresh2 = ingest_increment(events, mart, "ts")
    assert n1 + n2 == events.count()
    # the returned frames are the rows that were appended
    assert fresh2.filter(F.col("ts") <= cutoff).count() == 0
    assert fresh1.count() + fresh2.count() == events.count()
    assert spark.read.parquet(mart).count() == events.count()
    # replay: nothing new
    assert ingest_increment(events, mart, "ts")[0] == 0
    assert high_water_mark(mart, spark, "ts") == events.agg(
        F.max("ts")
    ).collect()[0][0]
