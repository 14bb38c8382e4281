"""applyInPandasWithState parity: the cross-batch stateful operator
must produce the batch gaps-and-islands answer when the stream is
replayed to completion (Trigger.AvailableNow)."""

from __future__ import annotations

import time

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
        # The query never terminates by itself: its processing-time
        # timeout keeps scheduling no-data batches, so neither
        # awaitTermination nor processAllAvailable returns. A no-data
        # batch runs only after every file has been read and committed.
        deadline = time.monotonic() + 300
        while not any(p.numInputRows == 0 for p in q.recentProgress):
            assert q.isActive, q.exception()
            assert time.monotonic() < deadline, "no batch after the data batch in 300 s"
            time.sleep(0.2)
        got = _rows(spark.sql("SELECT * FROM attribution"))
    finally:
        q.stop()

    want = _rows(purchase_attribution_batch(events))
    assert got == want
    assert len(got) > 0


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
