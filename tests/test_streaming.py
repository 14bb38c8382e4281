"""Streaming tests (SURVEY.md §5.2.4): batch/stream parity under
Trigger.AvailableNow, replay dedup, foreachBatch SCD2."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables
from event_driven_data_pipeline_for_e_commerce_spark.streaming.streams import (
    dedup_stream,
    read_event_stream,
    scd2_foreach_batch,
    sessionize,
    streaming_funnel_counts,
    view_click_join_stream,
    windowed_revenue,
)


@pytest.fixture
def event_source(spark, sf_dir, tmp_path):
    """Events table materialized as a streaming file source dir."""
    src = str(tmp_path / "events_src")
    batch = load_tables(spark, sf_dir)["events"]
    batch.write.mode("overwrite").parquet(src)
    return src, spark.read.parquet(src).schema


def _run_available_now(stream_df, tmp_path, name, output_mode="complete"):
    ckpt = str(tmp_path / f"ckpt_{name}")
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


def test_streaming_funnel_matches_batch(spark, sf_dir, event_source, tmp_path):
    src, schema = event_source
    stream = read_event_stream(spark, src, schema)
    _run_available_now(streaming_funnel_counts(stream), tmp_path, "funnel_counts")
    got = {
        (r["event_type"], r["cnt"])
        for r in spark.sql("SELECT * FROM funnel_counts").collect()
    }
    batch = load_tables(spark, sf_dir)["events"]
    want = {
        (r["event_type"], r["cnt"])
        for r in batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == want


def test_streaming_windowed_revenue_matches_batch(spark, sf_dir, event_source, tmp_path):
    src, schema = event_source
    stream = read_event_stream(spark, src, schema)
    _run_available_now(windowed_revenue(stream), tmp_path, "win_rev")
    got = {
        (str(r["window_start"]), r["revenue"], r["event_cnt"])
        for r in spark.sql("SELECT * FROM win_rev").collect()
    }
    batch = load_tables(spark, sf_dir)["events"]
    want = {
        (str(r["window_start"]), r["revenue"], r["event_cnt"])
        for r in (
            batch.filter(F.col("event_type") == "purchase")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.round(F.sum("value"), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("event_cnt"))
            .select(F.col("w.start").alias("window_start"), "revenue", "event_cnt")
        ).collect()
    }
    assert got == want


def test_streaming_dedup_restores_exactly_once(spark, sf_dir, tmp_path):
    # at-least-once source: every event written twice
    src = str(tmp_path / "dup_src")
    batch = load_tables(spark, sf_dir)["events"]
    batch.write.mode("overwrite").parquet(src)
    batch.write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = read_event_stream(spark, src, schema)
    _run_available_now(
        dedup_stream(stream).groupBy().agg(F.count(F.lit(1)).alias("n")),
        tmp_path, "dedup_cnt",
    )
    n = spark.sql("SELECT * FROM dedup_cnt").collect()[0]["n"]
    assert n == batch.count()


def test_streaming_sessionize_matches_batch(spark, sf_dir, event_source, tmp_path):
    """ST6: session_window over the stream (availableNow) equals the
    batch sessionization — same gap, same session boundaries."""
    src, schema = event_source
    stream = read_event_stream(spark, src, schema)
    _run_available_now(sessionize(stream), tmp_path, "sess_stream")
    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in spark.sql("SELECT * FROM sess_stream").collect()
    }
    batch = load_tables(spark, sf_dir)["events"]
    want = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in sessionize(batch).collect()
    }
    assert got == want


def test_late_event_beyond_watermark_dropped(spark, tmp_path):
    """ST7: in append mode a window finalizes once the watermark passes
    its end; an event arriving later than the watermark delay for that
    window is discarded, never re-emitting or growing the window."""
    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "ckpt_late")
    out = str(tmp_path / "late_out")

    def write_batch(rows, mode):
        spark.createDataFrame(
            [(i, t, v, "purchase") for i, (t, v) in enumerate(rows)],
            "event_id long, ts string, value double, event_type string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(mode).parquet(src)

    def run():
        stream = read_event_stream(spark, src, spark.read.parquet(src).schema)
        q = (
            windowed_revenue(stream, window="1 day", watermark="1 hour")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    def emitted():
        return [
            (str(r["window_start"]), r["revenue"], r["event_cnt"])
            for r in spark.read.parquet(out).collect()
        ]

    # window 2024-01-01 gets 2 events; the 01-03 event pushes the
    # watermark past its end so it finalizes and is emitted
    write_batch([("2024-01-01 10:00:00", 10.0), ("2024-01-01 11:00:00", 5.0),
                 ("2024-01-03 12:00:00", 1.0)], "overwrite")
    run()
    assert ("2024-01-01 00:00:00", 15.0, 2) in emitted()

    # a late event for the finalized window + a fresh event to advance time
    write_batch([("2024-01-01 05:00:00", 100.0), ("2024-01-05 09:00:00", 2.0)], "append")
    run()
    jan1 = [r for r in emitted() if r[0] == "2024-01-01 00:00:00"]
    # the 100.0 late event was dropped: window emitted exactly once, unchanged
    assert jan1 == [("2024-01-01 00:00:00", 15.0, 2)]


def test_foreach_batch_scd2(spark, tmp_path):
    src = str(tmp_path / "scd2_src")
    tgt = str(tmp_path / "scd2_dim")
    os.makedirs(src)

    # o3 changes twice inside the first batch: the initial load keeps
    # only its latest row
    b1 = spark.createDataFrame(
        [(1, "o1", "created", "2024-01-01 00:00:00"),
         (2, "o2", "created", "2024-01-01 00:00:00"),
         (3, "o3", "created", "2024-01-01 00:00:00"),
         (4, "o3", "shipped", "2024-01-01 06:00:00")],
        "ts_id long, order_id string, status string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b1.write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = read_event_stream(spark, src, schema)
    q = (
        stream.writeStream.foreachBatch(
            scd2_foreach_batch(tgt, "order_id", ["status"], sk_col="order_sk")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_scd2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    dim1 = spark.read.parquet(tgt)
    assert dim1.count() == 3 and dim1.filter("is_current").count() == 3
    assert [r["status"] for r in dim1.filter("order_id = 'o3'").collect()] == ["shipped"]

    # second batch mutates o1 twice: only its latest state is staged
    spark.createDataFrame(
        [(5, "o1", "shipped", "2024-01-15 00:00:00"),
         (6, "o1", "delivered", "2024-02-01 00:00:00")],
        "ts_id long, order_id string, status string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("append").parquet(src)
    q = (
        read_event_stream(spark, src, schema)
        .writeStream.foreachBatch(
            scd2_foreach_batch(tgt, "order_id", ["status"], sk_col="order_sk")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_scd2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    dim2 = spark.read.parquet(tgt)
    o1 = sorted(
        (r["status"], r["is_current"], r["order_sk"])
        for r in dim2.filter("order_id = 'o1'").collect()
    )
    # one expired version and one current version, the latter keyed
    # after the first load's three keys
    assert o1 == [("created", False, 1), ("delivered", True, 4)]
    assert dim2.filter("is_current").count() == 3


def test_scd2_sink_breaks_same_ts_ties_by_value(spark, tmp_path):
    """Two updates of one key at one event time: which one is staged
    must not depend on the micro-batch's row order."""
    rows = [
        ("o1", "shipped", "2024-01-01 00:00:00"),
        ("o1", "cancelled", "2024-01-01 00:00:00"),
        ("o2", "created", "2024-01-01 00:00:00"),
    ]
    kept = []
    for i, batch_rows in enumerate((rows, rows[::-1])):
        tgt = str(tmp_path / f"dim{i}")
        batch = spark.createDataFrame(
            batch_rows, "order_id string, status string, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        scd2_foreach_batch(tgt, "order_id", ["status"], sk_col="order_sk")(batch, 0)
        kept.append(sorted((r.order_id, r.status, r.order_sk) for r in spark.read.parquet(tgt).collect()))
    assert kept[0] == kept[1]
    assert [k for k, _, _ in kept[0]] == ["o1", "o2"]


def test_stream_stream_range_join_matches_batch(spark, sf_dir, event_source, tmp_path):
    """The watermarked stream-stream band join replayed to completion
    must equal the batch range_join corpus query."""
    from event_driven_data_pipeline_for_e_commerce_spark.plans.corpus import QUERIES

    src, schema = event_source
    joined = view_click_join_stream(
        read_event_stream(spark, src, schema),
        read_event_stream(spark, src, schema),
    )
    _run_available_now(joined, tmp_path, "vc_join", output_mode="append")
    got = {
        (r["user_id"], r["view_id"], r["click_id"], r["gap_us"])
        for r in spark.sql("SELECT * FROM vc_join").collect()
    }
    want = {
        (r["user_id"], r["view_id"], r["click_id"], r["gap_us"])
        for r in QUERIES["view_click_pairs_2h"](spark, sf_dir).collect()
    }
    assert got == want
    assert len(got) > 0


def test_cart_abandonment_stream_matches_batch(spark, sf_dir, event_source, tmp_path):
    """Streaming sessionization (session_window flags, append mode,
    replayed to completion) + the daily rollup finisher must equal the
    batch cart_abandonment_daily corpus query row-for-row."""
    from event_driven_data_pipeline_for_e_commerce_spark.plans.corpus import QUERIES
    from event_driven_data_pipeline_for_e_commerce_spark.streaming.streams import (
        cart_abandonment_rollup,
        cart_session_flags_stream,
    )

    src, schema = event_source
    # Append-mode session aggregates only emit once the watermark
    # passes the session end, so sessions open at end-of-replay would
    # be withheld. Advance the watermark past everything with one
    # far-future sentinel event (user_id -1, excluded below) — the
    # standard flush pattern, keeping the stream itself in its
    # production shape (append + watermark) for the parity check.
    sentinel = (
        spark.read.parquet(src)
        .limit(1)
        .withColumn("user_id", F.lit(-1).cast("long"))
        .withColumn("ts", F.to_timestamp(F.lit("2100-01-01 00:00:00")))
    )
    sentinel.write.mode("append").parquet(src)
    stream = read_event_stream(spark, src, schema)
    _run_available_now(
        cart_session_flags_stream(stream), tmp_path, "cart_sessions",
        output_mode="append",
    )
    daily = cart_abandonment_rollup(
        spark.sql("SELECT * FROM cart_sessions WHERE user_id >= 0")
    )
    key = lambda r: (
        str(r["day"]), r["n_sessions"], r["clicked_sessions"],
        r["abandoned_sessions"], r["abandonment_pct"],
    )
    got = {key(r) for r in daily.collect()}
    want = {key(r) for r in QUERIES["cart_abandonment_daily"](spark, sf_dir).collect()}
    assert got == want
    assert len(got) > 0


def test_stream_static_enrich_matches_batch(spark, sf_dir, event_source, tmp_path):
    """Stream-static dim enrich + aggregate equals the batch twin
    (segment_event_revenue corpus query) under Trigger.AvailableNow."""
    from event_driven_data_pipeline_for_e_commerce_spark.plans.corpus import QUERIES
    from event_driven_data_pipeline_for_e_commerce_spark.streaming.streams import (
        segment_revenue_stream,
    )

    src, schema = event_source
    stream = read_event_stream(spark, src, schema)
    customer = load_tables(spark, sf_dir)["customer"]
    _run_available_now(
        segment_revenue_stream(stream, customer), tmp_path, "seg_rev"
    )
    got = {
        (r["c_mktsegment"], r["revenue"], r["purchase_cnt"])
        for r in spark.sql("SELECT * FROM seg_rev").collect()
    }
    want = {
        (r["c_mktsegment"], r["revenue"], r["purchase_cnt"])
        for r in QUERIES["segment_event_revenue"](spark, sf_dir).collect()
    }
    assert got == want


def test_cdc_dimension_pipeline_replay_equals_rebuild(spark, sf_dir, tmp_path):
    """Composed CDC-to-dimension pipeline (VERDICT r3 #4): HWM ingest +
    SCD2 merge under foreachBatch as ONE pipeline. Contracts:
    (a) staging mart == full source (no loss, no dup across batches);
    (b) the dimension's CURRENT slice == latest-per-key of the source,
        regardless of micro-batch boundaries;
    (c) replaying the whole stream from a fresh checkpoint (forcing
        every batch through again) ingests nothing and leaves the
        dimension byte-identical — the HWM guard, independent of
        checkpoint offsets."""
    from event_driven_data_pipeline_for_e_commerce_spark.streaming.streams import (
        cdc_dimension_foreach_batch,
    )

    events = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "event_type", "value", "ts")
    )
    # a CDC feed lands in event-time order (the append-only log
    # contract ingest_increment documents) — write 6 sequential
    # time-range files so micro-batches replay in that order
    src = str(tmp_path / "cdc_src")
    import time

    ts_sorted = [r.ts for r in events.select("ts").orderBy("ts").collect()]
    n = len(ts_sorted)
    bounds = [ts_sorted[(i * n) // 6 - 1] for i in range(1, 6)]
    lo = None
    for i, hi in enumerate(bounds + [None]):
        part = events
        if lo is not None:
            part = part.filter(F.col("ts") > lo)
        if hi is not None:
            part = part.filter(F.col("ts") <= hi)
        part.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct file mtimes => deterministic order
        lo = hi
    schema = spark.read.parquet(src).schema
    staging = str(tmp_path / "staging")
    dim = str(tmp_path / "dim")

    def run(ckpt_name):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .writeStream.foreachBatch(
                cdc_dimension_foreach_batch(
                    staging, dim, "user_id", ["event_type", "value"]
                )
            )
            .option("checkpointLocation", str(tmp_path / ckpt_name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    run("ckpt1")

    # (a) staging holds exactly the source
    assert spark.read.parquet(staging).count() == events.count()
    assert sorted(
        (r.user_id, str(r.ts), r.event_type, float(r.value))
        for r in spark.read.parquet(staging).collect()
    ) == sorted(
        (r.user_id, str(r.ts), r.event_type, float(r.value))
        for r in events.collect()
    )

    # (b) current slice == latest row per user in the source
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"))
    want = {
        (r.user_id, r.event_type, float(r.value))
        for r in events.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .collect()
    }
    got = {
        (r.user_id, r.event_type, float(r.value))
        for r in spark.read.parquet(dim).filter("is_current").collect()
    }
    assert got == want

    # (c) full replay from a FRESH checkpoint: HWM guard makes it a no-op
    before = sorted(
        (r.user_id, str(r.valid_from), str(r.valid_to), r.is_current, r.sk)
        for r in spark.read.parquet(dim).collect()
    )
    n_staged_before = spark.read.parquet(staging).count()
    run("ckpt2")
    assert spark.read.parquet(staging).count() == n_staged_before
    after = sorted(
        (r.user_id, str(r.valid_from), str(r.valid_to), r.is_current, r.sk)
        for r in spark.read.parquet(dim).collect()
    )
    assert after == before


def test_cdc_sink_releases_its_pins(spark, tmp_path):
    """Every pin a CDC micro-batch takes (the batch itself, the SCD2
    join, the range-partitioned key assignment) is released once the
    batch's dimension is written: both pin registries end the stream
    as they began it."""
    import time

    from event_driven_data_pipeline_for_e_commerce_spark.operators import pinning
    from event_driven_data_pipeline_for_e_commerce_spark.streaming.streams import (
        cdc_dimension_foreach_batch,
    )

    src = str(tmp_path / "cdc_pin_src")
    for day, statuses in enumerate((["created"] * 3, ["paid", "created", "created"],
                                    ["shipped", "paid", "created"], ["delivered", "paid", "paid"]),
                                   start=1):
        spark.createDataFrame(
            [(f"o{i}", s, f"2024-01-0{day} 0{i}:00:00") for i, s in enumerate(statuses)],
            "order_id string, status string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)  # distinct file mtimes => one file per batch, in order
    schema = spark.read.parquet(src).schema
    pinning.release_pinned()  # start empty: the stream's pins must not evict older ones
    before = (len(pinning._PINNED), len(pinning._PINNED_CRITICAL))
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            cdc_dimension_foreach_batch(
                str(tmp_path / "staging_pin"), str(tmp_path / "dim_pin"), "order_id", ["status"]
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_pin"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "CDC stream still active after 300 s"
    finally:
        q.stop()
    assert (len(pinning._PINNED), len(pinning._PINNED_CRITICAL)) == before
    dim = spark.read.parquet(str(tmp_path / "dim_pin"))
    assert dim.count() == 8  # 3 first loads + 5 changes
    current = {r["order_id"]: r["status"] for r in dim.filter("is_current").collect()}
    assert current == {"o0": "delivered", "o1": "paid", "o2": "paid"}


def test_cdc_dimension_versioned_time_travel(spark, sf_dir, tmp_path):
    """CDC pipeline composed with the snapshot table format
    (versioned=True): every micro-batch commit becomes an immutable
    dimension version — 'the dimension as of batch N', BigQuery time
    travel on the SCD2 target. Asserts one version per ingesting
    batch, monotone history growth, version-1 state bounded by its
    prefix, and current == latest-per-key of the source."""
    from event_driven_data_pipeline_for_e_commerce_spark.operators.snapshots import (
        list_versions,
        read_snapshot,
    )
    from event_driven_data_pipeline_for_e_commerce_spark.streaming.streams import (
        cdc_dimension_foreach_batch,
    )

    events = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "event_type", "value", "ts")
    )
    src = str(tmp_path / "cdc_src_v")
    import time as _time

    ts_sorted = [r.ts for r in events.select("ts").orderBy("ts").collect()]
    n = len(ts_sorted)
    bounds = [ts_sorted[(i * n) // 3 - 1] for i in range(1, 3)]
    lo = None
    for hi in bounds + [None]:
        part = events
        if lo is not None:
            part = part.filter(F.col("ts") > lo)
        if hi is not None:
            part = part.filter(F.col("ts") <= hi)
        part.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        lo = hi
    schema = spark.read.parquet(src).schema
    staging, dim = str(tmp_path / "staging_v"), str(tmp_path / "dim_v")
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            cdc_dimension_foreach_batch(
                staging, dim, "user_id", ["event_type", "value"],
                versioned=True,
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_v"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    log = list_versions(dim)
    assert len(log) == 3  # one version per ingesting micro-batch
    rows = [e["n_rows"] for e in log]
    assert rows == sorted(rows)  # SCD2 history only grows
    # version 1 contains only prefix data
    v1_max = read_snapshot(spark, dim, version=1).agg(
        F.max("valid_from")
    ).collect()[0][0]
    cur_max = read_snapshot(spark, dim).agg(
        F.max("valid_from")
    ).collect()[0][0]
    assert v1_max <= cur_max
    # current slice still equals latest-per-key of the full source
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"))
    want = {
        (r.user_id, r.event_type, float(r.value))
        for r in events.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .collect()
    }
    got = {
        (r.user_id, r.event_type, float(r.value))
        for r in read_snapshot(spark, dim).filter("is_current").collect()
    }
    assert got == want
