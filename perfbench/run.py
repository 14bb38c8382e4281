#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

One process, one ``local[N]`` Spark session (N = min(4, cores)). The
run makes its inputs from the seed, sets up (session start, table
registration, one discarded warm pass), times whole passes of the
workload's operations, checks every output, and prints one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics
with ``--trace 1``). Everything it writes stays under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import workloads as W  # noqa: E402
from probes import SparkStatus, descendants, steal_s, tree_cpu_s, vm_hwm_mb, wait_gone  # noqa: E402
from stats import geomean_of_medians, median, ops_per_min  # noqa: E402

WORKLOADS = ("query_mix", "medallion_cdc")
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "1g"
# nominal seconds of one pass; a run times round(seconds / nominal)
# whole passes (at least one), so every run of one setting attempts the
# same operations
PASS_NOMINAL_S = {"query_mix": 11.0, "medallion_cdc": 18.0}


class Run:
    """One benchmark process: the Spark session, the pass records and
    the failure log."""

    def __init__(self, entry, workload: str, passes: int, traced: bool, run_dir: str):
        self.entry, self.workload, self.passes = entry, workload, passes
        self.run_dir = run_dir
        self.failures = W.Failures()
        self.tracer = None
        if traced:
            from spans import Tracer

            self.tracer = Tracer()
        self.spark = None
        self.timed: list[W.PassRecord] = []
        self.facts: dict = {}

    # ---------------------------------------------------------------- passes

    def begin_pass(self, rec: W.PassRecord) -> None:
        self.status.shuffle_write_bytes_since_last()
        rec.t0 = time.time()
        self._cpu0 = tree_cpu_s()
        self._steal0 = steal_s()
        self._wall0 = time.perf_counter()

    def end_pass(self, rec: W.PassRecord) -> None:
        rec.wall_s = time.perf_counter() - self._wall0
        rec.cpu_s = tree_cpu_s() - self._cpu0
        rec.t1 = time.time()
        rec.shuffle_bytes = self.status.shuffle_write_bytes_since_last()
        rec.steal_s = steal_s() - self._steal0

    # ----------------------------------------------------------------- setup

    def start_session(self) -> None:
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(os.path.join(tmp, "local"))
        os.environ.update(
            SPARK_GRAFT_CPUS=str(CPUS),
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
            SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
            TMPDIR=tmp,
        )
        tempfile.tempdir = None
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:+UseParallelGC -Xms{DRIVER_MEMORY}",
        }
        if self.tracer:
            self.event_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.event_dir}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell"

        from event_driven_data_pipeline_for_e_commerce_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.facts["session.start_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.sparkContext.setJobGroup("perfbench", "setup")
        self.status = SparkStatus(self.spark)
        if self.tracer:
            self.tracer.install()

    def close(self) -> None:
        """Stop every query and the session, then end the JVM and wait
        for it and for every process it started."""
        if self.tracer:
            self.tracer.uninstall()
        if self.spark is None:
            return
        from pyspark import SparkContext

        for q in self.spark.streams.active:
            q.stop()
        gateway = SparkContext._gateway
        # the JVM's Python workers outlive it briefly and are reparented
        # when it exits, so take them now
        started = [p for p in descendants(os.getpid()) if p != os.getpid()]
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        wait_gone(started)
        self.spark = None

    # --------------------------------------------------------------- running

    def run_queries(self, data_dir: str, answers: dict) -> None:
        from event_driven_data_pipeline_for_e_commerce_spark.plans.tables import load_tables

        load_tables(self.spark, data_dir)  # table registration
        W.run_query_pass(self, data_dir, answers, warm=True)
        self.t_first_op = time.perf_counter()
        for _ in range(self.passes):
            self.timed.append(W.run_query_pass(self, data_dir, answers, warm=False))
        self.t_timed_end = time.perf_counter()

    def run_medallion(self, data_dir: str, truth: dict) -> None:
        self.facts["cdc.rows_per_file"] = truth["cdc"]["rows_per_file"]
        W.run_medallion_pass(self, data_dir, os.path.join(self.run_dir, "warm"))
        shutil.rmtree(os.path.join(self.run_dir, "warm"))
        self.t_first_op = time.perf_counter()
        for i in range(self.passes):
            last = os.path.join(self.run_dir, f"pass{i}")
            self.timed.append(W.run_medallion_pass(self, data_dir, last))
        self.t_timed_end = time.perf_counter()
        self.facts["io.write_amplification"] = W.medallion_bytes(last) / truth["input_bytes"]
        self.facts.update(W.check_medallion(self, last, truth))
        t0 = time.perf_counter()
        W.run_attribution(self, data_dir, self.run_dir)
        self.facts["attribution_op_s"] = time.perf_counter() - t0

    # --------------------------------------------------------------- metrics

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        samples: dict[str, list[float]] = {}
        for rec in self.timed:
            for op, s in rec.ops.items():
                samples.setdefault(op, [])
                if s is not None:
                    samples[op].append(s)
        return {
            "setup_s": setup_s,
            "op_geomean_s": geomean_of_medians(samples),
            "ops_per_min": ops_per_min(len(samples), [r.wall_s for r in self.timed]),
            "cpu_s": median(r.cpu_s for r in self.timed),
            "peak_rss_mb": vm_hwm_mb(self.status.jvm_pid) + vm_hwm_mb(os.getpid()),
            "shuffle_mb": median(r.shuffle_bytes for r in self.timed) / 1e6,
        }


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    try:
        entry = W.load_entry()
        import event_driven_data_pipeline_for_e_commerce_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {W.ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(W.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if args.trace else "end_to_end"]

    passes = max(1, round(args.seconds / PASS_NOMINAL_S[args.workload]))
    run_dir = os.path.join(W.WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    run = Run(entry, args.workload, passes, bool(args.trace), run_dir)
    try:
        t0 = time.perf_counter()
        # a plain child process: multiprocessing would leave its
        # resource tracker running past this process's exit
        child = subprocess.run([sys.executable, W.__file__, args.workload, str(args.seed)])
        if child.returncode != 0:
            raise RuntimeError(f"preparing the inputs failed with exit code {child.returncode}")
        if args.workload == "medallion_cdc":
            data_dir = W.olist_data(args.seed)
            with open(os.path.join(data_dir, "truth.json"), encoding="utf-8") as fh:
                truth = json.load(fh)
        else:
            data_dir = W.star_data(args.seed)
            import oracle

            sqls = {q: entry.oracle_sql()[q] for q in W.QUERIES}
            answers = oracle.answers(data_dir, sqls, W.ORACLE_DIR)
        excluded = time.perf_counter() - t0  # input generation and oracle answers

        run.start_session()
        if args.workload == "medallion_cdc":
            run.run_medallion(data_dir, truth)
        else:
            run.run_queries(data_dir, answers)
        t_checked = time.perf_counter()
        metrics = e2e = run.end_to_end(run.t_first_op - T_START - excluded)
        if args.trace:
            import layers

            run.close()
            metrics = layers.per_layer(run, declared, e2e)
    finally:
        run.close()
        if run.tracer:
            os.makedirs(os.path.join(W.WORK, "traces"), exist_ok=True)
            run.tracer.dump(
                os.path.join(W.WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"passes": [vars(r) for r in run.timed], "facts": run.facts,
                 "failures": run.failures.failed, "wrong": run.failures.wrong},
            )
        shutil.rmtree(run_dir, ignore_errors=True)
    t_end = time.perf_counter()

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": passes, "cpus": CPUS, "driver_memory": DRIVER_MEMORY,
        "box": {"cores": os.cpu_count(), "machine": platform.machine(), "python": platform.python_version()},
        "failures": run.failures.failed, "wrong": run.failures.wrong,
        "end_to_end": e2e, "metrics": metrics,
        "pass_ops": [r.ops for r in run.timed], "pass_wall_s": [r.wall_s for r in run.timed],
        "pass_steal_s": [r.steal_s for r in run.timed],
        "phase_s": {
            "inputs_and_oracle": excluded,
            "setup": run.t_first_op - T_START - excluded,
            "timed_passes": run.t_timed_end - run.t_first_op,
            "checks_and_tail_ops": t_checked - run.t_timed_end,
            "teardown": t_end - t_checked,
        },
        "facts": {k: v for k, v in run.facts.items() if not isinstance(v, list)},
    }
    os.makedirs(os.path.join(W.WORK, "results"), exist_ok=True)
    with open(os.path.join(W.WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for w in run.failures.wrong:
        print(f"perfbench: wrong output: {w}", file=sys.stderr)

    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    print(
        json.dumps(
            {
                "correct": not run.failures.wrong,
                "attempted": run.failures.attempted,
                "failed": len(run.failures.failed),
                "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
