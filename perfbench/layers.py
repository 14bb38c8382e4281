"""Per-layer metrics of a traced run: spans recorded around the
program's public functions, the per-pass records, and Spark's event
log folded by job group and submission time. Each metric is taken per
timed pass and reported as the median over passes; a layer the
workload does not touch reads 0."""

from __future__ import annotations

import os

import workloads as W
from eventlog import EventLog, fold_file
from stats import median


def _in(rec: W.PassRecord):
    lo, hi = rec.t0 * 1e3, rec.t1 * 1e3
    return lambda job: lo <= job.submit_ms <= hi


def _in_spans(spans: list[dict]):
    windows = [(s["start"] * 1e3, s["end"] * 1e3) for s in spans]
    return lambda job: any(lo <= job.submit_ms <= hi for lo, hi in windows)


def _pass_layers(run, log: EventLog, rec: W.PassRecord) -> dict[str, float]:
    tr, t0, t1 = run.tracer, rec.t0, rec.t1
    in_pass = _in(rec)
    out: dict[str, float] = {}
    queries = [op for op in rec.detail if "construct_s" in rec.detail[op]]
    out["plans.construct_s"] = sum(rec.detail[q]["construct_s"] for q in queries)
    out["plans.construct_jobs"] = log.totals(
        lambda j: in_pass(j) and (j.group or "").endswith(":construct")
    )["jobs"]
    out["plans.tables.load_s"] = tr.total_s("plans.tables.load", t0, t1)
    out["spark.run_s"] = sum(rec.detail[q]["run_s"] for q in queries)
    out["spark.collect_s"] = sum(rec.detail[q]["run_s"] for q in queries if W.QUERIES[q] == "collect")
    for k, v in log.totals(in_pass).items():
        out[f"spark.{k}"] = v
    out["pinning.pins"] = len(tr.select("pinning.pin", t0, t1))
    out["pinning.cached_mb"] = max((d.get("cached_mb", 0.0) for d in rec.detail.values()), default=0.0)

    for step in ("bronze", "silver", "gold"):
        out[f"medallion.{step}_s"] = rec.ops.get(step) or 0.0
    out["medallion.silver_jobs"] = log.totals(lambda j: in_pass(j) and j.group == "medallion:silver")["jobs"]
    out["io.read_csv_s"] = tr.total_s("io.read_csv", t0, t1)
    out["io.write_s"] = tr.total_s("io.write", t0, t1)
    out["cleansing.cleanse_s"] = tr.total_s("cleansing.cleanse", t0, t1)
    out["surrogate_keys.assign_s"] = tr.total_s("surrogate_keys.assign", t0, t1)
    out["surrogate_keys.jobs"] = log.totals(
        _in_spans(tr.select("surrogate_keys.assign", t0, t1))
    )["jobs"]
    out["scd2.merge_s"] = tr.total_s("scd2.merge", t0, t1)
    out["scd2.write_s"] = tr.total_s("scd2.write", t0, t1)

    batches = [d for op, d in rec.detail.items() if op.startswith("cdc")]
    if batches:
        file_rows = run.facts["cdc.rows_per_file"]
        out["cdc.batch_s"] = median(b["add_batch_s"] for b in batches)
        out["cdc.trigger_overhead_s"] = median(b["trigger_s"] - b["add_batch_s"] for b in batches)
        out["cdc.source_reads_per_row"] = sum(b["num_input_rows"] for b in batches) / sum(file_rows)
        out["cdc.input_rows_per_s"] = median(n / b["trigger_s"] for n, b in zip(file_rows, batches))
    else:
        for k in ("batch_s", "trigger_overhead_s", "source_reads_per_row", "input_rows_per_s"):
            out[f"cdc.{k}"] = 0.0

    for q in queries:
        out[f"q.{q}.construct_s"] = rec.detail[q]["construct_s"]
        out[f"q.{q}.run_s"] = rec.detail[q]["run_s"]
        out[f"q.{q}.shuffle_mb"] = log.totals(
            lambda j, q=q: in_pass(j) and (j.group or "").startswith(f"q:{q}:")
        )["shuffle_write_mb"]
    return out


def per_layer(run, declared: list[dict], e2e: dict[str, float]) -> dict[str, float]:
    """Every declared per-layer metric for a finished traced run (the
    Spark session must be stopped, so the event log is complete).
    ``e2e`` supplies the pass-level latency and throughput, which host
    contention keeps too unsteady for the end-to-end list."""
    logs = os.listdir(run.event_dir)
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {run.event_dir}, found {logs}")
    log = fold_file(os.path.join(run.event_dir, logs[0]))
    per_pass = [_pass_layers(run, log, rec) for rec in run.timed]
    out = {
        name: median(p[name] for p in per_pass)
        for name in per_pass[0]
    }
    out["ops.geomean_s"] = e2e["op_geomean_s"]
    out["ops.per_min"] = e2e["ops_per_min"]
    out["session.start_s"] = run.facts["session.start_s"]
    for k in ("io.write_amplification", "scd2.rows_expired", "scd2.rows_inserted"):
        out[k] = run.facts.get(k, 0.0)
    # layers this workload never enters
    for m in declared:
        out.setdefault(m["name"], 0.0)
    return out
