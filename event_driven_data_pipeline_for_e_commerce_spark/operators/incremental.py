"""Incremental aggregate-mart maintenance: merge a new batch of facts
into a persisted rollup WITHOUT rescanning history.

This is the 100 TB rollup pattern: a daily revenue mart over 3 years
of facts is ~1000 partitions; recomputing it for each day's arrivals
rereads everything, while the incremental form touches (a) the new
batch and (b) the existing mart — a frame whose size is the GROUP
cardinality, not the fact count.

The trick is storing MERGEABLE partial aggregates, not finished
measures: counts and sums add; min/max combine; avg is derived
(sum/count) at read time. Non-decomposable aggregates (exact median,
distinct counts) need sketches (see ``hll_rollup_contract``) or a
re-read — the API makes that explicit by only accepting mergeable
specs.

Late/updated data: `merge_rollup` is additive, so replaying the same
batch twice double-counts. Idempotence comes from the caller feeding
each fact exactly once (the streaming form: ``foreachBatch`` with
checkpointed offsets — the same contract every incremental pipeline
has), or from keying batches and replacing per-key groups via
``refresh_keys`` (reprocess-partition semantics: delete + reinsert
the affected days).

Reference anchor: the Gold notebook (`ecom_Gold_Layer.ipynb:96-118`)
rebuilds fact_sales from scratch each run; this operator is the
grown-up incremental twin of that rebuild.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# measure name -> (partial-agg builder over the raw column, merge
# builder over the partial column). Every entry is associative +
# commutative, so map-side combine and mart merging are both exact.
MERGEABLE = {
    "sum": (lambda c: F.sum(c), lambda c: F.sum(c)),
    "count": (lambda c: F.count(c), lambda c: F.sum(c)),
    "min": (lambda c: F.min(c), lambda c: F.min(c)),
    "max": (lambda c: F.max(c), lambda c: F.max(c)),
}


def _check(measures: dict[str, tuple[str, str]]) -> None:
    bad = {m for _, (m, _) in measures.items() if m not in MERGEABLE}
    if bad:
        raise ValueError(
            f"non-mergeable aggregate(s) {sorted(bad)}: incremental marts "
            "hold partial aggregates; use sketches (HLL/quantile) or a "
            "full recompute for these"
        )


def rollup_batch(
    batch: DataFrame, keys: list[str], measures: dict[str, tuple[str, str]]
) -> DataFrame:
    """Aggregate one fact batch to mart grain. ``measures`` maps output
    column -> (agg_kind, input_column), e.g. ``{"revenue": ("sum",
    "value"), "n": ("count", "value")}``."""
    _check(measures)
    return batch.groupBy(*keys).agg(
        *[
            MERGEABLE[kind][0](F.col(col)).alias(out)
            for out, (kind, col) in measures.items()
        ]
    )


def merge_rollup(
    mart: DataFrame | None,
    delta: DataFrame,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
) -> DataFrame:
    """Merge a batch rollup (``rollup_batch`` output) into the existing
    mart. Both sides are at mart grain already, so the merge is a
    union + one groupBy over group-cardinality rows — no fact rescan.
    ``mart=None`` bootstraps."""
    _check(measures)
    if mart is None:
        return delta
    merged = mart.unionByName(delta)
    return merged.groupBy(*keys).agg(
        *[
            MERGEABLE[kind][1](F.col(out)).alias(out)
            for out, (kind, _) in measures.items()
        ]
    )


def refresh_keys(
    mart: DataFrame,
    recomputed: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Reprocess-partition semantics: replace the mart's rows for every
    key present in ``recomputed`` (delete + reinsert), leaving all
    other groups untouched. The anti-join is key-only; at scale with a
    date-partitioned mart this is a partition overwrite."""
    survivors = mart.join(
        recomputed.select(*keys).dropDuplicates(), keys, "left_anti"
    )
    return survivors.unionByName(recomputed)


def high_water_mark(mart_dir: str, spark, ts_col: str):
    """Read the stored high-water mark for an append-only ingestion:
    the max event time already folded into the mart at ``mart_dir``
    (None if the mart doesn't exist). The classic ELT incremental-load
    cursor — new batches filter ``ts > hwm`` so re-runs never re-read
    or double-count settled history."""
    import os

    if not os.path.exists(mart_dir):
        return None
    return (
        spark.read.parquet(mart_dir).agg(F.max(ts_col)).collect()[0][0]
    )


def ingest_increment(
    source: DataFrame,
    mart_dir: str,
    ts_col: str,
) -> tuple[int, DataFrame]:
    """Append-only incremental ingest: take only source rows strictly
    newer than the mart's high-water mark and append them. Returns the
    number of rows ingested and the fresh rows themselves, so a caller
    that folds them further (the CDC sink) reuses the same filtered
    frame — pin ``source`` first if it is read more than once.
    Idempotent under re-runs on unchanged sources (the second run
    ingests 0); the strictly-greater filter assumes event times are
    monotone-complete below the HWM — the standard append-only log
    contract."""
    spark = source.sparkSession
    hwm = high_water_mark(mart_dir, spark, ts_col)
    fresh = source if hwm is None else source.filter(F.col(ts_col) > hwm)
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(mart_dir)
    return n, fresh
