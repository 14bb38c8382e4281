"""applyInPandasWithState parity: the cross-batch stateful operator
must produce the batch gaps-and-islands answer when the stream is
replayed to completion (Trigger.AvailableNow)."""

from __future__ import annotations

from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables
from event_driven_data_pipeline_for_e_commerce_spark.streaming.stateful import (
    purchase_attribution_batch,
    purchase_attribution_stream,
)
from event_driven_data_pipeline_for_e_commerce_spark.streaming.streams import (
    read_event_stream,
)


def _rows(df):
    return {
        (
            r["user_id"],
            r["purchase_ts"],
            round(r["purchase_value"], 2),
            r["views_before"],
            r["clicks_before"],
        )
        for r in df.collect()
    }


def test_stream_matches_batch(spark, sf_dir, tmp_path):
    src = str(tmp_path / "events_src")
    events = load_tables(spark, sf_dir)["events"]
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = purchase_attribution_stream(read_event_stream(spark, src, schema))
    q = (
        stream.writeStream.format("memory")
        .queryName("attribution")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_attr"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        # the event-time timeout fires once, in the no-data batch after
        # the watermark advances; then the replay ends by itself
        assert q.awaitTermination(300), "attribution stream still active after 300 s"
        got = _rows(spark.sql("SELECT * FROM attribution"))
    finally:
        q.stop()

    want = _rows(purchase_attribution_batch(events))
    assert got == want
    assert len(got) > 0


def test_idle_timeout_counts_from_last_event(spark, tmp_path):
    """Eviction is measured in event time from a user's last event: a
    user quiet for one micro-batch, well inside the idle timeout, keeps
    their counters, so a three-file replay still equals the batch
    answer."""
    import time

    src = str(tmp_path / "attr_files")
    files = [
        [(1, 1, "view", "2024-01-01 10:00:00"), (2, 2, "view", "2024-01-01 10:00:00")],
        [(3, 2, "click", "2024-01-01 10:20:00")],
        [(4, 1, "purchase", "2024-01-01 10:30:00"), (5, 2, "purchase", "2024-01-01 10:30:00")],
    ]
    for rows in files:
        spark.createDataFrame(
            [(e, u, k, ts, 5.0) for e, u, k, ts in rows],
            "event_id long, user_id long, event_type string, ts string, value double",
        ).selectExpr("event_id", "user_id", "event_type", "CAST(ts AS TIMESTAMP) AS ts", "value").coalesce(
            1
        ).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct file mtimes => one file per batch, in order
    schema = spark.read.parquet(src).schema
    q = (
        purchase_attribution_stream(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        .writeStream.format("memory")
        .queryName("attribution_idle")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_idle"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "attribution stream still active after 300 s"
        got = _rows(spark.sql("SELECT * FROM attribution_idle"))
    finally:
        q.stop()
    assert got == _rows(purchase_attribution_batch(spark.read.parquet(src)))
    assert {(r[0], r[3], r[4]) for r in got} == {(1, 1, 0), (2, 1, 1)}


def test_counters_reset_after_purchase(spark, sf_dir):
    """Each purchase closes its epoch: per user, summing views_before
    over all purchases can never exceed the user's total view count."""
    events = load_tables(spark, sf_dir)["events"]
    import pyspark.sql.functions as F

    attr = (
        purchase_attribution_batch(events)
        .groupBy("user_id")
        .agg(F.sum("views_before").alias("attributed_views"))
    )
    totals = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("total_views"))
    )
    bad = attr.join(totals, "user_id").filter(
        F.col("attributed_views") > F.col("total_views")
    )
    assert bad.count() == 0
