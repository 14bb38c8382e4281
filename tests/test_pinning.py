"""Bounded pin-registry behavior (operators/pinning.py): the fix for
the one-cached-frame-per-query leak across a 200+ query batch session
(ADVICE r4)."""

from __future__ import annotations

import pyspark.sql.functions as F

from event_driven_data_pipeline_for_e_commerce_spark.operators import pinning
from event_driven_data_pipeline_for_e_commerce_spark.operators.pinning import (
    pin,
    release_pinned,
)


def test_pin_caps_tracked_frames_fifo(spark):
    release_pinned()
    frames = [
        pin(spark.range(10).withColumn("x", F.lit(i)))
        for i in range(pinning._PIN_CAP + 3)
    ]
    # registry never exceeds the cap; the oldest were evicted
    assert len(pinning._PINNED) == pinning._PIN_CAP
    assert pinning._PINNED[0] is frames[3]
    # evicted frames are unpersisted, recent ones still cached
    assert frames[0].storageLevel.useMemory is False
    assert frames[-1].storageLevel.useMemory is True
    # evicted frames still compute correctly (just uncached)
    assert frames[0].count() == 10
    assert release_pinned() == pinning._PIN_CAP
    assert pinning._PINNED == []


def test_release_pinned_unpersists_everything(spark):
    release_pinned()
    df = pin(spark.range(5))
    assert df.storageLevel.useMemory is True
    assert release_pinned(blocking=True) == 1
    assert df.storageLevel.useMemory is False
    assert df.count() == 5


def test_critical_pins_survive_fifo_pressure(spark):
    """Correctness-critical pins (two-pass consistency: surrogate
    keys, cumulative offsets, CSV quarantine) must never be evicted
    by later performance pins (ADVICE r5)."""
    release_pinned()
    crit = pin(spark.range(7).withColumn("x", F.lit(-1)), critical=True)
    # flood the FIFO well past the cap
    for i in range(pinning._PIN_CAP + 5):
        pin(spark.range(10).withColumn("x", F.lit(i)))
    assert crit.storageLevel.useMemory is True  # still pinned
    assert len(pinning._PINNED) == pinning._PIN_CAP
    assert pinning._PINNED_CRITICAL == [crit]
    assert release_pinned() == pinning._PIN_CAP + 1
    assert crit.storageLevel.useMemory is False


def test_unpin_releases_one_frame_from_either_registry(spark):
    release_pinned()
    perf = pin(spark.range(3))
    crit = pin(spark.range(4), critical=True)
    assert pinning.unpin(crit, blocking=True) is True
    assert crit.storageLevel.useMemory is False
    assert perf.storageLevel.useMemory is True
    assert pinning.unpin(crit) is False  # already released
    assert release_pinned() == 1


def test_pin_scope_releases_only_inner_pins(spark):
    release_pinned()
    outer = pin(spark.range(3))
    with pinning.pin_scope():
        perf = pin(spark.range(4))
        crit = pin(spark.range(5), critical=True)
        assert perf.count() == 4 and crit.count() == 5
    assert len(pinning._PINNED) == 1 and pinning._PINNED[0] is outer
    assert pinning._PINNED_CRITICAL == []
    assert perf.storageLevel.useMemory is False
    assert crit.storageLevel.useMemory is False
    assert outer.storageLevel.useMemory is True
    release_pinned()
