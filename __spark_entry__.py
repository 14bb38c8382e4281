"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship funnel query on sf0.001;
``queries()``/``oracle_sql()`` expose the engine's full corpus
(event_driven_data_pipeline_for_e_commerce_spark.plans.corpus).

The correctness check runs the first 50 queries in this order each
round, so the order is the correctness window. ``window`` derives it
from the committed ``CORRECTNESS_r*.json`` reports: the ``PRIORITY``
names first, then every query never green in a report (registration
order), then the rest, stalest last-green round first (registration
order within a round).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from event_driven_data_pipeline_for_e_commerce_spark.plans import corpus

# Queries whose code or oracle changed since the last committed report.
PRIORITY: tuple[str, ...] = ()

_CHECKS = ("rows_match", "schema_match", "hash_match")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (lifecycle/conversion funnel) on sf0.001."""
    return corpus.QUERIES["funnel"](spark, "/root/testdata/sf0.001")


def correctness_reports() -> list[dict]:
    """The committed correctness reports, oldest round first."""
    paths = Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json")
    paths = sorted(paths, key=lambda p: int(p.stem.split("_r")[-1]))
    return [json.loads(p.read_text()) for p in paths]


def window(names: Sequence[str], reports: Iterable[dict], priority: Sequence[str]) -> list[str]:
    """``names`` in window order (see the module docstring)."""
    last_green = {}
    for rnd, report in enumerate(reports):
        for name, row in report.items():
            if row.get("err") is None and all(row.get(k) is True for k in _CHECKS):
                last_green[name] = rnd
    pos = {name: i for i, name in enumerate(names)}
    head = [name for name in dict.fromkeys(priority) if name in pos]
    chosen = set(head)
    rest = [name for name in names if name not in chosen]
    never = [name for name in rest if name not in last_green]
    seen = sorted((n for n in rest if n in last_green), key=lambda n: (last_green[n], pos[n]))
    return head + never + seen


def _order() -> list[str]:
    return window(list(corpus.QUERIES), correctness_reports(), PRIORITY)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: corpus.QUERIES[name] for name in _order()}


def oracle_sql() -> dict[str, str]:
    return {name: corpus.ORACLES[name] for name in _order() if name in corpus.ORACLES}
