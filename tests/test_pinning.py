"""Bounded pin-registry behavior (operators/pinning.py): the fix for
the one-cached-frame-per-query leak across a 200+ query batch session
(ADVICE r4)."""

from __future__ import annotations

import sys
import threading

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
    """Correctness-critical pins (the quarantine readers' one parsed
    scan) must never be evicted by later performance pins (ADVICE r5)."""
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


def test_pin_scope_leaves_other_threads_pins(spark):
    """A streaming sink's scope runs on its own thread: closing it must
    not release a frame another thread pinned while it was open."""
    release_pinned()
    scope_open, other_pinned = threading.Event(), threading.Event()
    theirs = []

    def other() -> None:
        assert scope_open.wait(30)
        theirs.append(pin(spark.range(6)))
        other_pinned.set()

    thread = threading.Thread(target=other)
    thread.start()
    with pinning.pin_scope():
        mine = pin(spark.range(7))
        scope_open.set()
        assert other_pinned.wait(30)
    thread.join(30)
    assert pinning._PINNED == theirs
    assert theirs[0].storageLevel.useMemory is True
    assert mine.storageLevel.useMemory is False
    release_pinned()


class _Frame:
    """Stands in for a DataFrame: the registry only persists and
    unpersists what it tracks, so the race below runs without Spark."""

    def persist(self, _level):
        return self

    def unpersist(self, _blocking=False):
        return self


def test_concurrent_scopes_release_exactly_their_pins():
    """More threads than cores, each opening scopes and pinning inside
    them while the others do the same: once all are done, both
    registries are empty. A lost update in either registry leaves a
    frame behind."""
    release_pinned()
    start = threading.Barrier(8)
    errors: list[Exception] = []

    def work() -> None:
        try:
            start.wait(30)
            for _ in range(2000):
                with pinning.pin_scope():
                    pin(_Frame(), critical=True)
                    pin(_Frame())
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert pinning._PINNED == [] and pinning._PINNED_CRITICAL == []
