"""Corpus pin: two digests that a refactor of the plan corpus must not move.

- ``oracle_digest``: sha256 over the ``(name, oracle_sql)`` pairs of
  ``corpus.ORACLES`` in registration order, so oracle text and
  registration order are both pinned.
- ``plan_digest``: sha256 over the sorted ``(name, operator multiset)``
  pairs, each multiset read from the query's sf0.001 physical
  ``simpleString()``. Expression ids, partition counts and plan ids are
  not part of it, only which operators a plan holds and how many.

``corpus_plans`` is the one construction pass over the corpus: it
builds every registered query once, keeps its ``simpleString()`` and
``optimizedPlan().toString()``, and drops every cached frame before the
next query, so no query's plan depends on what an earlier one cached.

Run ``python -m tests.corpus_pin [--dump FILE]`` from the repo root to
print both digests (and optionally write each query's multiset as JSON).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import re
from collections import Counter

from event_driven_data_pipeline_for_e_commerce_spark.operators.pinning import release_pinned
from event_driven_data_pipeline_for_e_commerce_spark.plans.corpus import ORACLES, QUERIES
from event_driven_data_pipeline_for_e_commerce_spark.session import get_spark

ORACLE_SHA256 = "d350e4e6f1408266ec2fa11d38e772769953ca691aa154f397a2f6fbd5957888"
PLAN_SHA256 = "0eec5e8836748dc08a6757d9bf3e5157d7a0d8a5ff294dd4c07aa621c2968567"

_OPERATOR = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?([A-Za-z]\w*)")


def corpus_plans(spark, sf_dir: str) -> dict[str, tuple[str, str]]:
    """``{name: (simpleString, optimizedPlan)}`` for every registered
    query, in registration order."""
    plans = {}
    spark.catalog.clearCache()
    for name, fn in QUERIES.items():
        qe = fn(spark, sf_dir)._jdf.queryExecution()
        plans[name] = (qe.simpleString(), qe.optimizedPlan().toString())
        release_pinned()
        spark.catalog.clearCache()
    return plans


def operator_multiset(simple: str) -> Counter:
    """Operator names of a physical plan string, with their counts."""
    ops = Counter()
    for line in simple.splitlines():
        if line.startswith("=="):
            continue
        m = _OPERATOR.match(line)
        if m:
            ops[m.group(1)] += 1
    return ops


def oracle_digest(oracles: dict[str, str]) -> str:
    h = hashlib.sha256()
    for name, sql in oracles.items():
        h.update(f"{name}\0{sql}\0".encode())
    return h.hexdigest()


def plan_digest(simple_plans: dict[str, str]) -> str:
    h = hashlib.sha256()
    for name in sorted(simple_plans):
        ops = operator_multiset(simple_plans[name])
        h.update(f"{name}\0{sorted(ops.items())}\0".encode())
    return h.hexdigest()


def main() -> None:
    from tests.conftest import SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dump", help="write {name: operator multiset} JSON here")
    args = ap.parse_args()
    print("oracle_sha256", oracle_digest(ORACLES), flush=True)
    spark = get_spark("edp-corpus-pin", shuffle_partitions=8)
    simple = {name: s for name, (s, _) in corpus_plans(spark, SF_DIR).items()}
    print("plan_sha256", plan_digest(simple))
    if args.dump:
        with open(args.dump, "w") as f:
            json.dump({n: dict(sorted(operator_multiset(s).items())) for n, s in simple.items()}, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
