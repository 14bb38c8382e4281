"""Bounded registry for persisted ("pinned") DataFrames.

Several operators persist a frame that more than one branch of a plan,
or more than one job, reads — the bucketed frame of ``cumulative``'s
ranged helpers, scd2's current ⋈ staging join, the candidate and
verify passes of the MinHash/SimHash dedup family. Left unreleased, a
long batch session (the corpus driver runs 200+ queries in one
SparkSession) accumulates one cached frame per query (ADVICE r4).

Pins come in two kinds (ADVICE r5):

- **Performance pins** (the default): the cache only avoids
  recomputation — a recompute after eviction is slow, never wrong.
  They live in a FIFO capped at ``_PIN_CAP``; a new pin beyond the
  cap unpersists the oldest.
- **Correctness pins** (``pin`` with ``critical`` set): the cache is
  load-bearing. Only the quarantine readers in ``sources.io`` need
  one: Spark fills a PERMISSIVE scan's corrupt-record column only
  while parsing, so the good and bad splits must read one cached
  scan. They are NON-EVICTABLE, released only by ``release_pinned``,
  ``unpin`` or an enclosing ``pin_scope``.

``release_pinned`` drops everything tracked — the between-batches hook
for harnesses. ``pin_scope`` is the scoped form for a step that
materializes its own result (a sink's fold-and-write, a Silver table's
write): on exit it unpins what its own thread pinned inside the block,
so concurrent streaming sinks (each ``foreachBatch`` runs on its own
driver thread) never release each other's pins. One lock guards both
registries.
"""

from __future__ import annotations

import threading
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
_LOCK = threading.Lock()
# per thread: the frames pinned inside each open pin_scope, innermost last
_SCOPES = threading.local()


def _open_scopes() -> list[list[DataFrame]]:
    return _SCOPES.__dict__.setdefault("stack", [])


def pin(df: DataFrame, critical: bool = False) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK — never recompute, spill over
    memory pressure) and track it. Performance pins (default) evict
    oldest-first beyond the cap; ``critical`` pins are non-evictable
    (see module docstring). Returns the persisted frame."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _LOCK:
        (_PINNED_CRITICAL if critical else _PINNED).append(df)
        evicted = _PINNED[:-_PIN_CAP]
        del _PINNED[:-_PIN_CAP]
    for scope in _open_scopes():
        scope.append(df)
    for old in evicted:
        old.unpersist(False)
    return df


def unpin(df: DataFrame, blocking: bool = False) -> bool:
    """Explicitly release one pinned frame (either registry), for a
    caller that wants the memory back before the batch ends. Returns
    whether it was tracked."""
    with _LOCK:
        registry = next((r for r in (_PINNED, _PINNED_CRITICAL) if any(t is df for t in r)), None)
        if registry is None:
            return False
        registry[:] = [t for t in registry if t is not df]
    df.unpersist(blocking)
    return True


def release_pinned(blocking: bool = False) -> int:
    """Unpersist every tracked pinned frame (e.g. between driver
    batches) and return how many were released. Only call once the
    DataFrames returned by pin-using helpers have been materialized."""
    with _LOCK:
        released = [*_PINNED, *_PINNED_CRITICAL]
        _PINNED.clear()
        _PINNED_CRITICAL.clear()
    for df in released:
        df.unpersist(blocking)
    return len(released)


@contextmanager
def pin_scope() -> Iterator[None]:
    """Unpin, on exit, every frame this thread pinned inside the block
    (both kinds); frames pinned before it, or by other threads, stay
    tracked. Wrap a step whose result is written out inside the block
    — nothing read after the block may depend on the released
    caches."""
    inner: list[DataFrame] = []
    scopes = _open_scopes()
    scopes.append(inner)
    try:
        yield
    finally:
        scopes.pop()
        for df in inner:
            unpin(df)
