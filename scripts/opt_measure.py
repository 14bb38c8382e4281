"""Optimization measurement harness (guide §1).

For each named corpus query: capture `.explain("formatted")` to
$OPT_PLANS_DIR/<query>_<tag>.txt (default .opt_plans, gitignored) and time N
noop-sink runs (guide §1.4) with the job labelled (§1.5). Prints
per-query median/min seconds.

Usage: python scripts/opt_measure.py <tag> <reps> <query> [query ...]
       (tag is e.g. "before" / "after"; sf dir from $SPARK_GRAFT_SF_DIR,
       default sf0.1 — the bench SF)
"""
from __future__ import annotations

import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from event_driven_data_pipeline_for_e_commerce_spark.operators.pinning import (
    release_pinned,
)
from event_driven_data_pipeline_for_e_commerce_spark.session import get_spark
import __spark_entry__ as entry


def main() -> None:
    tag = sys.argv[1]
    reps = int(sys.argv[2])
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries = entry.queries()
    spark = get_spark("opt-measure")
    plans_dir = os.environ.get("OPT_PLANS_DIR", ".opt_plans")
    os.makedirs(plans_dir, exist_ok=True)

    # fixed-work probe bracketing the session (hypervisor drift guard)
    def probe() -> float:
        t0 = time.perf_counter()
        s = 0
        for i in range(10_000_000):
            s += i
        return round(time.perf_counter() - t0, 4)

    print(f"probe_pre={probe()}", flush=True)
    for name in names:
        release_pinned()
        # warm-up at sf0.001 (codegen/JIT) — mirrors bench.py
        try:
            queries[name](spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:
            pass
        release_pinned()
        spark.catalog.clearCache()
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(f"{plans_dir}/{name}_{tag}.txt", "w") as fh:
            fh.write(buf.getvalue())
        times = []
        for r in range(reps):
            release_pinned()
            spark.catalog.clearCache()
            df = queries[name](spark, sf_dir)
            spark.sparkContext.setJobDescription(f"{tag}:{name}#{r}")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 4))
            spark.sparkContext.setJobDescription(None)
        times_sorted = sorted(times)
        med = times_sorted[len(times_sorted) // 2]
        print(f"{name} {tag}: median={med} min={times_sorted[0]} all={times}", flush=True)
    print(f"probe_post={probe()}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
