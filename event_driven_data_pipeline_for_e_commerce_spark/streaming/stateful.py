"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference keeps exactly one piece of cross-event state: the latest
lifecycle stage per order (``app.py:100-107``) and the SCD2 current
flag (``Scd_Type2.sql:38-44``) — both covered elsewhere (G1, J7). This
module adds the *general* capability those imply: an arbitrary per-key
state machine over an event stream, the thing windowed aggregation and
``dropDuplicates`` genuinely cannot express.

Operator: **purchase attribution** — per user, count the views/clicks
accumulated since the previous purchase; when a ``purchase`` event
arrives, emit one attribution row and reset the counters. The state is
two longs per live user.

Scale design:

- state is keyed by ``user_id`` → partitioned across executors by the
  one groupBy shuffle; each micro-batch touches only keys present in
  the batch.
- state size is O(live users) × 16 bytes — bounded further by an
  event-time timeout that evicts idle users (``hasTimedOut`` branch),
  the same discipline as a watermark on windowed state. Event time,
  not processing time, is what lets a ``Trigger.AvailableNow`` replay
  finish: once the last batch's watermark has fired the due timeouts,
  no further batch is scheduled.
- rows cross into Python as Arrow batches (``applyInPandasWithState``),
  not row-at-a-time; the per-row loop below runs over an in-memory
  pandas chunk. This is the sanctioned slow path: custom state
  transition logic has no Catalyst expression.

``purchase_attribution_batch`` is the same semantics expressed
natively for batch replay (gaps-and-islands: running purchase count
per user forms the epoch id, one groupBy per epoch) — used as the
oracle-checkable public query and as the stream's parity baseline.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

ATTRIBUTION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("purchase_ts", TimestampType()),
        StructField("purchase_value", DoubleType()),
        StructField("views_before", LongType()),
        StructField("clicks_before", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [StructField("views", LongType()), StructField("clicks", LongType())]
)

_OUT_COLS = [f.name for f in ATTRIBUTION_SCHEMA.fields]


def purchase_attribution_stream(
    events: DataFrame, idle_timeout_ms: int = 3_600_000
) -> DataFrame:
    """Stateful attribution over a STREAMING events frame.

    Emits one row per purchase with the view/click counts accumulated
    for that user since their previous purchase. Counters survive
    across micro-batches in GroupState; a user is evicted once the
    event-time watermark passes their last event by
    ``idle_timeout_ms``. The watermark trails the latest event time by
    the same ``idle_timeout_ms``, so events later than that are dropped
    as late.
    """

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        views, clicks = state.get if state.exists else (0, 0)
        rows: list[tuple] = []
        # micro-batch rows are not order-guaranteed AND one key's rows
        # may span multiple Arrow chunks — materialize the whole batch
        # (state size is already bounded per key) and sort ONCE so the
        # ts-order-defined state machine never replays across a chunk
        # boundary out of order (ties broken by event_id)
        chunks = list(pdfs)
        batch = pd.concat(chunks) if len(chunks) > 1 else chunks[0] if chunks else None
        # idle is measured from the user's last event; the watermark
        # floor keeps the timeout valid when a batch holds only old rows
        last_ms = state.getCurrentWatermarkMs()
        if batch is not None:
            for r in batch.sort_values(["ts", "event_id"]).itertuples():
                if r.event_type == "view":
                    views += 1
                elif r.event_type == "click":
                    clicks += 1
                elif r.event_type == "purchase":
                    rows.append((key[0], r.ts, r.value, views, clicks))
                    views, clicks = 0, 0
            last_ms = max(last_ms, int(batch["ts_ms"].max()))
        state.update((views, clicks))
        state.setTimeoutTimestamp(last_ms + idle_timeout_ms)
        if rows:
            yield pd.DataFrame(rows, columns=_OUT_COLS)

    return (
        events.withWatermark("ts", f"{idle_timeout_ms} milliseconds")
        .withColumn("ts_ms", F.unix_millis("ts"))
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=ATTRIBUTION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def purchase_attribution_batch(events: DataFrame) -> DataFrame:
    """Batch replay of the same semantics, fully native (no state, no
    Python): the running per-user purchase count splits each user's
    timeline into epochs; per-epoch view/click counts join back onto
    the purchase row that closes the epoch."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_purchase = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    tagged = events.withColumn("epoch", F.sum(is_purchase).over(w) - is_purchase)
    counts = tagged.groupBy("user_id", "epoch").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "views_before"
        ),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "clicks_before"
        ),
    )
    purchases = tagged.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
        "epoch",
    )
    return purchases.join(counts, ["user_id", "epoch"]).select(*_OUT_COLS)
