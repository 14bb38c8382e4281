"""Structured Streaming realizations of the event-driven surface
(SURVEY.md §2.I ST1-ST7, §7.2 M6).

The reference's "near real-time" intent (README.md:17,27,161) runs as
batch replays of the event table; these are the streaming-native
versions. Batch/stream parity is the test contract: each operator
under ``Trigger.AvailableNow`` must produce the batch answer.

State-boundedness at scale: every stateful op carries a watermark so
Spark can evict state — dedup state is bounded to the watermark delay
window, aggregations emit finalized windows and drop them, session
state closes ``gap`` after the last event.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import StructType

from ..operators.incremental import ingest_increment, merge_rollup, rollup_batch
from ..operators.pinning import pin, pin_scope
from ..operators.scd2 import scd2_init, scd2_merge, scd2_write
from ..operators.sketches import cms_merge, cms_sketch
from ..operators.snapshots import list_versions, read_snapshot, write_snapshot


def read_event_stream(
    spark: SparkSession, path: str, schema: StructType, fmt: str = "parquet"
) -> DataFrame:
    """ST1: file-source event stream (the Kafka-ready shape — swapping
    ``format('kafka')`` + value parsing is the only change)."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def windowed_revenue(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """ST2: tumbling event-time revenue with late-data watermark —
    streaming form of the ``tumbling_daily_revenue`` corpus query."""
    return (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(
            F.round(F.sum(value_col), 2).alias("revenue"),
            F.count(F.lit(1)).alias("event_cnt"),
        )
        .select(F.col("w.start").alias("window_start"), "revenue", "event_cnt")
    )


def streaming_funnel_counts(
    events: DataFrame, watermark: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """ST2: per-stage event counts (funnel numerators). Stage alignment
    + conversion ratios stay a tiny batch join over this result
    (operators.aggregates.funnel) — streaming aggregates the heavy
    part, the 4-row alignment is free."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """ST6: session windows (the README's claimed sessionization,
    README.md:76,150 — no code exists in the reference; this is the
    Spark-native realization). Works identically in batch (no
    watermark needed) and streaming."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame, watermark: str = "1 hour", id_col: str = "event_id", ts_col: str = "ts"
) -> DataFrame:
    """ST5: exactly-once restoration under at-least-once delivery —
    dropDuplicates on event identity with watermark-bounded state."""
    return events.withWatermark(ts_col, watermark).dropDuplicates([id_col, ts_col])


def view_click_join_stream(
    views: DataFrame,
    clicks: DataFrame,
    band_seconds: int = 7200,
    watermark: str = "3 hours",
) -> DataFrame:
    """Stream-stream range join — the streaming twin of the
    ``view_click_pairs_2h`` corpus query (operators/temporal.range_join
    is its batch form). Each view pairs with the same user's clicks in
    the following ``band_seconds``.

    State-boundedness: BOTH sides carry watermarks and the join
    condition bounds click_ts relative to view_ts in both directions,
    so Spark derives state-eviction watermarks for each side (views
    older than watermark + band are dropped; clicks likewise). Without
    the time-band condition a stream-stream inner join would buffer
    forever — this is the canonical watermark-join pattern.
    """
    v = (
        views.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    joined = v.join(
        c,
        F.expr(
            f"""
            v_user_id = c_user_id
            AND click_ts > view_ts
            AND click_ts <= view_ts + INTERVAL {band_seconds} SECOND
            """
        ),
    )
    return joined.select(
        F.col("v_user_id").alias("user_id"),
        "view_id",
        "click_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


def cart_session_flags_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """ST6 composed: per-session click/purchase flags — the streaming
    twin of ``cart_abandonment_daily``'s heavy stateful stage. One
    session_window aggregate per user with watermark-bounded state;
    finalized sessions emit (append mode) with their start timestamp
    and flags. The daily abandonment rollup over finalized sessions is
    :func:`cart_abandonment_rollup` — a tiny batch (or foreachBatch)
    aggregation, kept OUT of the stream because a chained streaming
    aggregate can only re-key by time-window columns (session END via
    ``window_time``), which would misdate sessions spanning midnight
    relative to the batch day-of-session-START semantics."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    flag = lambda s: F.max(F.when(F.col("event_type") == s, 1).otherwise(0))
    return (
        df.groupBy("user_id", F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(flag("click").alias("has_click"), flag("purchase").alias("has_purchase"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "has_click",
            "has_purchase",
        )
    )


def cart_abandonment_rollup(sessions: DataFrame) -> DataFrame:
    """Daily cart-abandonment rollup over per-session flag rows
    (:func:`cart_session_flags_stream` output, replayed or sunk):
    sessions with a click but no purchase as a share of clicked
    sessions, keyed by day of session start — column-identical to the
    ``cart_abandonment_daily`` corpus query."""
    abandoned = (F.col("has_click") == 1) & (F.col("has_purchase") == 0)
    return sessions.groupBy(
        F.to_date("session_start").alias("day")
    ).agg(
        F.count("*").alias("n_sessions"),
        F.sum("has_click").alias("clicked_sessions"),
        F.sum(F.when(abandoned, 1).otherwise(0)).alias("abandoned_sessions"),
        F.round(
            F.sum(F.when(abandoned, 1).otherwise(0)) * 100.0
            / F.nullif(F.sum("has_click"), F.lit(0)),
            4,
        ).alias("abandonment_pct"),
    )


def _prior(spark: SparkSession, path: str) -> DataFrame | None:
    """The table a sink folds into, or ``None`` before its first write."""
    return spark.read.parquet(path) if os.path.exists(path) else None


def _swap_sink(
    target_path: str,
    fold: Callable[[DataFrame | None, DataFrame], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """The one fold-and-swap path of the Parquet-state sinks: skip an
    empty micro-batch, read the prior table (``None`` on first sight)
    and write ``fold(prior, batch)`` with the ``scd2_write`` atomic
    snapshot swap, so readers never see a half-folded table. The fold
    stays lazy: ``scd2_write`` materializes it into a temp dir
    (reading the old snapshot) before the swap, and the frames it
    pinned are released once it is written. Exactly-once against
    replays comes from the checkpointed source offsets."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        prior = _prior(batch.sparkSession, target_path)
        with pin_scope():
            scd2_write(fold(prior, batch), target_path)

    return apply


def _scd2_step(
    prior: DataFrame | None,
    increment: DataFrame,
    key: str,
    tracked_cols: list[str],
    ts_col: str,
    sk_col: str,
) -> DataFrame:
    """The SCD2 fold both SCD2 sinks share. The increment collapses to
    its latest row per business key (a micro-batch may carry several
    updates of one key; SCD2 stages the final state per batch, like
    the reference's per-load staging table; rows tied on the event time
    break by their tracked values, so the pick does not depend on row
    order); ``load_ts`` is its max event time, a scalar subquery, so a
    replayed batch is hash-idempotent; then ``scd2_init`` on first
    sight, ``scd2_merge`` into ``prior`` otherwise."""
    w = Window.partitionBy(key).orderBy(F.desc(ts_col), *[F.desc(c) for c in tracked_cols])
    latest = (
        increment.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(key, *tracked_cols)
    )
    load_ts = increment.agg(F.max(ts_col)).scalar()
    if prior is None:
        return scd2_init(latest, key, tracked_cols, load_ts, sk_col=sk_col)
    return scd2_merge(prior, latest, key, tracked_cols, load_ts, sk_col=sk_col)


def scd2_foreach_batch(
    target_path: str,
    key: str,
    tracked_cols: list[str],
    sk_col: str = "sk",
) -> Callable[[DataFrame, int], None]:
    """ST3/ST4: incremental SCD2 maintenance from a stream —
    ``writeStream.foreachBatch(scd2_foreach_batch(...))``. Each
    micro-batch's latest row per key merges into the Parquet dimension
    via the atomic snapshot swap; ``load_ts`` is the batch's max event
    time (``ts``), so replays of the same batch are idempotent (hash
    equality short-circuits)."""
    return _swap_sink(
        target_path,
        lambda dim, batch: _scd2_step(dim, batch, key, tracked_cols, "ts", sk_col),
    )


def rollup_foreach_batch(
    target_path: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
) -> Callable[[DataFrame, int], None]:
    """ST4 + incremental-mart maintenance composed: each micro-batch
    folds into a persisted Parquet rollup via
    ``operators.incremental.merge_rollup`` — the mart is re-aggregated
    at GROUP grain only (union of old mart + batch partials), never by
    rescanning event history. Exactly-once against replays comes from
    the checkpointed source offsets, the same contract as the SCD2
    foreachBatch. The write is the atomic snapshot swap, so readers
    never see a half-merged mart."""
    return _swap_sink(
        target_path,
        lambda mart, batch: merge_rollup(
            mart, rollup_batch(batch, keys, measures), keys, measures
        ),
    )


def cms_foreach_batch(
    target_path: str,
    key_col: str,
) -> Callable[[DataFrame, int], None]:
    """Streaming Count-Min sketch maintenance: each micro-batch's keys
    fold into a persisted 4x64 counter grid (``operators.sketches``)
    by cell-wise addition — the sketch twin of ``rollup_foreach_batch``
    for keyspaces too large to hold an exact per-key mart. The
    persisted state is depth*width rows FOREVER, no matter how many
    events stream through; point queries (``cms_estimate``) run
    against the parquet grid at any time without stopping the stream.
    Exactly-once vs replays comes from the checkpointed source
    offsets; the write is the atomic snapshot swap."""
    return _swap_sink(
        target_path, lambda grid, batch: cms_merge(grid, cms_sketch(batch, key_col))
    )


def peak_rate_stream(
    events: DataFrame,
    watermark: str = "2 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming bot/rate screen: events per (user, 60-second tumbling
    window) as a watermarked streaming aggregate — the stream-side
    feed of the ``user_peak_event_rate`` batch audit (the batch query
    scans history with a sliding RANGE window; the stream maintains
    only in-flight minutes of state, watermark-evicted). A monitor
    reads MAX(events_1m) per user downstream of the sink."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy("user_id", F.window(ts_col, "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("events_1m"))
        .select("user_id", F.col("w.start").alias("minute_start"), "events_1m")
    )


def first_touch_foreach_batch(
    target_path: str,
) -> Callable[[DataFrame, int], None]:
    """Streaming first-touch attribution state: each micro-batch folds
    per-user first-view / first-purchase timestamps (exact integer
    microseconds) into a persisted keyed mart via the mergeable-MIN
    rollup — the streaming twin of ``conversion_latency_histogram``'s
    per-user conditional-min stage. 'First touch ever' cannot be a
    watermarked in-memory aggregate (the state never expires); the
    mergeable mart bounds state at USER grain on disk instead, which
    is exactly how a 100 TB pipeline keeps lifetime-scoped state out
    of stream memory. MIN merges are idempotent per value and
    exactly-once vs replays via checkpointed offsets."""
    rollup = rollup_foreach_batch(
        target_path,
        ["user_id"],
        {
            "first_view_us": ("min", "view_us"),
            "first_purchase_us": ("min", "purchase_us"),
        },
    )

    def apply(batch: DataFrame, batch_id: int) -> None:
        touch_us = lambda kind: F.when(F.col("event_type") == kind, F.unix_micros("ts"))
        rollup(
            batch.select(
                "user_id",
                touch_us("view").alias("view_us"),
                touch_us("purchase").alias("purchase_us"),
            ),
            batch_id,
        )

    return apply


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    join_expr,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch probes the
    static dimension (broadcast by AQE when small — the streaming form
    of the J2/J5 dim enrich). The static side is re-resolved per
    micro-batch, so a dimension REFRESH (overwrite of the table the
    DataFrame reads) is picked up without restarting the query —
    the standard slowly-refreshing-dimension pattern.
    """
    return events.withWatermark(ts_col, watermark).join(dim, join_expr, "left")


def segment_revenue_stream(
    events: DataFrame,
    customer: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """ST2+J2 composed: purchase revenue per customer market segment,
    computed as a stream-static broadcast enrich followed by a
    streaming aggregate — the streaming twin of the
    ``segment_event_revenue`` corpus query."""
    dim = customer.select("c_custkey", "c_mktsegment")
    enriched = enrich_stream(
        events.filter(F.col("event_type") == "purchase"),
        dim,
        F.col("user_id") == F.col("c_custkey"),
        watermark=watermark,
    )
    return enriched.groupBy("c_mktsegment").agg(
        F.round(F.sum("value"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("purchase_cnt"),
    )


def cdc_dimension_foreach_batch(
    staging_dir: str,
    dim_dir: str,
    key: str,
    tracked_cols: list[str],
    ts_col: str = "ts",
    sk_col: str = "sk",
    versioned: bool = False,
) -> Callable[[DataFrame, int], None]:
    """The reference's actual production loop, composed end-to-end:
    high-water-mark incremental ingestion feeding an SCD2 dimension
    merge (``Scd_Type2.sql:13-53`` driven by the ``load_timestamp``
    bookkeeping of ``ecom_Silver_Layer.ipynb:248``) — previously two
    separately-tested halves (``operators.incremental.ingest_increment``
    and ``operators.scd2.scd2_merge``), now one CDC-to-dimension
    pipeline under ``foreachBatch``:

    1. **Ingest**: the micro-batch is pinned once, so every later step
       reads the cached batch, not the source files.
       ``ingest_increment`` HWM-filters it against the staging mart
       (rows at-or-below the stored ``max(ts)`` are settled history —
       re-deliveries drop here), appends the fresh rows to staging and
       returns them with their count; a count of 0 ends the batch.
    2. **Fold**: the SCD2 step shared with ``scd2_foreach_batch``
       (latest row per key, ``load_ts`` = max event time, so replays
       are hash-idempotent even if the HWM filter were bypassed,
       ``scd2_merge`` or ``scd2_init`` on first sight) replaces the
       Parquet dimension via the atomic snapshot swap; the batch's pins
       are released once it is written.

    Scale shape: HWM is one aggregated scalar; staging append touches
    only fresh rows; the collapse window is key-partitioned; the merge
    is one equi-join on the business key (staging side is batch-sized
    — AQE broadcasts it against a big dimension). Exactly-once comes
    from checkpointed source offsets AND the HWM guard (belt and
    braces: a replayed batch ingests 0 and the merge never runs).

    ``versioned=True`` routes the dimension through the snapshot table
    format (``operators.snapshots``): every micro-batch commit becomes
    an immutable, time-travelable version — 'what did this dimension
    look like after batch N / at time T' — at the same cost per write
    as the plain atomic swap."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        with pin_scope():
            n, fresh = ingest_increment(pin(batch), staging_dir, ts_col)
            if not n:
                return
            if versioned:
                dim = (
                    read_snapshot(spark, dim_dir)
                    if os.path.exists(dim_dir) and list_versions(dim_dir)
                    else None
                )
            else:
                dim = _prior(spark, dim_dir)
            merged = _scd2_step(dim, fresh, key, tracked_cols, ts_col, sk_col)
            (write_snapshot if versioned else scd2_write)(merged, dim_dir)

    return apply
