"""Bounded registry for persisted ("pinned") DataFrames.

Several operators persist an intermediate frame because TWO jobs must
observe identical nondeterministic content — the counts job and the
key-assignment job in ``surrogate_keys`` (pinned partition contents),
the counts job and the window job in ``cumulative`` (pinned sampled
range boundaries), the candidate-generation and verify passes of the
MinHash/SimHash dedup family. Left unreleased, a long batch session
(the corpus driver runs 200+ queries in one SparkSession) accumulates
one cached frame per query invocation (ADVICE r4).

Pins come in two kinds (ADVICE r5):

- **Performance pins** (the default): the cache only avoids
  recomputation — the frame's content is deterministic, so a
  recompute after eviction is merely slow, never wrong (scd2's join
  cache, shared minhash signatures, corpus-query shared frames).
  These live in a FIFO capped at ``_PIN_CAP``: when a NEW pin arrives
  beyond the cap, the oldest is unpersisted.
- **Correctness pins** (``pin(df, critical=True)``): the cache is
  load-bearing — two jobs must observe IDENTICAL nondeterministic
  content (``surrogate_keys``/``cumulative`` pin partition contents
  so the collected counts/offsets match the later assignment pass;
  ``read_csv_quarantine`` pins so the good/bad splits partition one
  scan). These are tracked in a separate NON-EVICTABLE registry —
  FIFO pressure from later performance pins can never silently
  un-pin them and corrupt keys/offsets. They are released only by
  ``release_pinned`` (or ``unpin``), once the caller's results are
  materialized. Batch harnesses MUST call ``release_pinned`` at
  query boundaries (the corpus pytest suite and
  ``scripts/strict_driver_check.py`` do, after each query's full
  materialization) — the non-evictable registry is bounded by the
  batch contract, not by a cap; between releases, memory pressure
  degrades to disk (MEMORY_AND_DISK), never to recomputation.

``release_pinned`` drops everything tracked (both kinds) — the
between-batches hook for harnesses that want a clean cache.
``pin_scope`` is the scoped form for a step that materializes its own
result (a sink's fold-and-write, a Silver table's write): on exit it
unpins the frames pinned inside the block and nothing else.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_PINNED: list[DataFrame] = []
_PINNED_CRITICAL: list[DataFrame] = []
# Sized for the deepest composed query (near-dup consensus pins the
# minhash trio + simhash + CC edges in one construction) with 2×
# headroom; still O(1) per session vs the former one-pin-per-query.
_PIN_CAP = 12


def pin(df: DataFrame, critical: bool = False) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK — never recompute, spill over
    memory pressure) and track it. Performance pins (default) evict
    oldest-first beyond the cap; ``critical=True`` pins are
    non-evictable (see module docstring). Returns the persisted
    frame."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if critical:
        _PINNED_CRITICAL.append(df)
        return df
    _PINNED.append(df)
    while len(_PINNED) > _PIN_CAP:
        _PINNED.pop(0).unpersist(False)
    return df


def unpin(df: DataFrame, blocking: bool = False) -> bool:
    """Explicitly release one pinned frame (either registry). For
    callers that know their two-pass window has closed and want the
    memory back before the batch ends. Returns whether it was
    tracked."""
    for registry in (_PINNED, _PINNED_CRITICAL):
        for i, tracked in enumerate(registry):
            if tracked is df:
                registry.pop(i).unpersist(blocking)
                return True
    return False


def release_pinned(blocking: bool = False) -> int:
    """Unpersist every tracked pinned frame (e.g. between driver
    batches) and return how many were released. Only call once the
    DataFrames returned by pin-using helpers have been materialized —
    their plans depend on the pinned cache for two-pass consistency."""
    n = len(_PINNED) + len(_PINNED_CRITICAL)
    while _PINNED:
        _PINNED.pop().unpersist(blocking)
    while _PINNED_CRITICAL:
        _PINNED_CRITICAL.pop().unpersist(blocking)
    return n


@contextmanager
def pin_scope() -> Iterator[None]:
    """Unpin, on exit, every frame pinned inside the block (both
    kinds); frames pinned before it stay tracked. Wrap a step whose
    result is written out inside the block — nothing read after the
    block may depend on the released caches."""
    outer = [*_PINNED, *_PINNED_CRITICAL]
    try:
        yield
    finally:
        kept = {id(df) for df in outer}
        for df in [df for df in (*_PINNED, *_PINNED_CRITICAL) if id(df) not in kept]:
            unpin(df)
