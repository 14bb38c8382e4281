#!/usr/bin/env python3
"""Run one workload once per seed and report each end-to-end metric's
median, quartiles and quartile spread (as a share of the median), the
failed share, and each run's wall time.

    python3 perfbench/spread.py --workload query_mix --seeds 1-10 [--trace 0]

Runs go one after another from the checkout root, with the command and
run length of BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from stats import spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    runs = []
    for seed in _seeds(args.seeds):
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: exit code {proc.returncode}")
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, **out})
        vals = {k: round(v["value"], 4) for k, v in out["metrics"].items()}
        print(f"seed {seed}: wall {wall:.1f}s correct={out['correct']} "
              f"{out['failed']}/{out['attempted']} failed {vals}", file=sys.stderr, flush=True)
    summary = {
        "workload": args.workload,
        "trace": args.trace,
        "walls_s": [round(r["wall_s"], 1) for r in runs],
        "all_correct": all(r["correct"] for r in runs),
        "failed_shares": sorted({f"{r['failed']}/{r['attempted']}" for r in runs}),
        "metrics": {
            name: spread([r["metrics"][name]["value"] for r in runs])
            for name in runs[0]["metrics"]
        } if len(runs) > 1 else {},
    }
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
