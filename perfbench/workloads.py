"""The two workloads: what one operation is, what one pass runs, and
how each output is checked.

- ``query_mix``: dashboard mart queries collected to the Python side
  and heavy corpus queries run through the ``noop`` sink, over the
  seeded star schema.
- ``medallion_cdc``: Bronze -> Silver -> Gold over Olist-shaped CSVs,
  then order-change files streamed through the HWM-ingest + SCD2 loop.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import gen
import oracle

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
ORACLE_DIR = os.path.join(WORK, "oracle")

STAR_SF = 0.01  # 15,000 orders, 60,000 lineitems
OLIST_SCALE = 0.02  # of the reference cardinalities: 1,989 orders
CDC_FILES = 2  # initial load + 1 change file; a replayed file follows
CDC_KEY, CDC_TRACKED = "order_id", ["order_status", "order_value"]
# seconds the attribution stream may stay active after its data batch
ATTRIBUTION_BOUND_S = 1.0


def load_entry():
    """The program's public surface, ``__spark_entry__`` at the
    checkout root."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
    if spec is None or not os.path.exists(spec.origin):
        raise ImportError(f"no __spark_entry__.py under {ROOT}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _gen_digest() -> str:
    with open(gen.__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def _cached_dir(name: str, build) -> str:
    """``WORK/data/<name>``, built once by ``build(tmp_dir)`` (returning
    the manifest) and published by rename."""
    final = os.path.join(WORK, "data", f"{name}-{_gen_digest()}")
    if not os.path.exists(os.path.join(final, "manifest.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = build(tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    return final


def star_data(seed: int) -> str:
    return _cached_dir(f"star-sf{STAR_SF}-seed{seed}", lambda d: gen.make_star(d, seed, STAR_SF))


def olist_data(seed: int) -> str:
    def build(d: str) -> dict:
        gen.make_olist(d, seed, OLIST_SCALE, CDC_FILES)
        gen.make_attribution_events(os.path.join(d, "attribution.parquet"))
        return {"seed": seed, "scale": OLIST_SCALE, "cdc_files": CDC_FILES}

    return _cached_dir(f"olist-x{OLIST_SCALE}-seed{seed}", build)


def prepare(workload: str, seed: int) -> None:
    """Make the seed's inputs and, for ``query_mix``, the oracle answers.
    ``run.py`` calls this in a child process (``python3 workloads.py
    <workload> <seed>``), so the benchmark process's peak memory holds
    none of it."""
    if workload == "medallion_cdc":
        olist_data(seed)
        return
    sqls = {q: load_entry().oracle_sql()[q] for q in QUERIES}
    oracle.answers(star_data(seed), sqls, ORACLE_DIR)


@dataclass
class PassRecord:
    """One pass: per-operation latency (None when it failed), wall and
    CPU seconds, shuffle bytes and per-operation detail."""

    ops: dict[str, float | None] = field(default_factory=dict)
    detail: dict[str, dict] = field(default_factory=dict)
    wall_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    steal_s: float = 0.0
    t0: float = 0.0  # epoch seconds, to attribute spans and jobs
    t1: float = 0.0


class Failures:
    """Every operation attempted, and every exception with its message."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed: list[dict] = []
        self.wrong: list[str] = []

    def record(self, op: str, err: BaseException | str) -> None:
        msg = err if isinstance(err, str) else f"{type(err).__name__}: {str(err)[:400]}"
        self.failed.append({"op": op, "error": msg})
        print(f"perfbench: operation {op} failed: {msg}", file=sys.stderr)


# ------------------------------------------------------------------ queries


# name -> sink. "collect": a dashboard mart query, built and collected to
# the Python side every pass (latency-bound; construction is about half
# of it). "noop": a heavy corpus query, built and run through the noop
# sink (execution- and shuffle-bound); its rows are collected and
# checked on the warm pass.
QUERIES = {
    "funnel": "collect",
    "revenue_by_region": "collect",
    "orders_last_event": "collect",
    "emb_cosine_near_dup": "noop",
    "scd2_merge_orders": "noop",
}


def run_query_pass(ctx, data_dir: str, answers: dict, warm: bool) -> PassRecord:
    """One pass over ``QUERIES``. A ``collect`` query's rows are checked
    every pass; a ``noop`` query's rows are collected and checked on the
    warm pass only."""
    from event_driven_data_pipeline_for_e_commerce_spark.operators.pinning import release_pinned

    sc, queries = ctx.spark.sparkContext, ctx.entry.queries()
    rec, results = PassRecord(), {}
    ctx.begin_pass(rec)
    for q, sink in QUERIES.items():
        collect = sink == "collect" or warm
        ctx.failures.attempted += 1
        try:
            sc.setJobGroup(f"q:{q}:construct", q)
            t0 = time.perf_counter()
            df = queries[q](ctx.spark, data_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(f"q:{q}:run", q)
            if collect:
                rows = df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            cached = ctx.status.cached_mb() if ctx.tracer else 0.0
            if collect:
                results[q] = (df.columns, rows)
            rec.ops[q] = t2 - t0
            rec.detail[q] = {"construct_s": t1 - t0, "run_s": t2 - t1, "cached_mb": cached}
        except Exception as e:  # recorded and counted; the pass goes on
            rec.ops[q] = None
            ctx.failures.record(q, e)
        finally:
            release_pinned()
            sc.setJobGroup("perfbench", "between operations")
    ctx.end_pass(rec)
    for q, (cols, rows) in results.items():
        diff = oracle.compare(oracle.normalize(cols, rows), answers[q])
        if diff:
            ctx.failures.wrong.append(f"{q}: {diff}")
    return rec


# ------------------------------------------------------------ medallion + CDC


def _policies():
    from event_driven_data_pipeline_for_e_commerce_spark.operators.cleansing import (
        CleansePolicy,
        DateDurationConfig,
    )

    return {
        "default": CleansePolicy(),
        "raw_orders": CleansePolicy(
            dates=DateDurationConfig(
                date_cols=gen.ORDER_DATE_COLS,
                start_col=gen.ORDER_DATE_COLS[0],
                end_col=gen.ORDER_DATE_COLS[1],
            )
        ),
    }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _cdc_stream(ctx, src: str, out: str, checkpoint: str):
    from event_driven_data_pipeline_for_e_commerce_spark.streaming.streams import (
        cdc_dimension_foreach_batch,
    )

    spark = ctx.spark
    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            cdc_dimension_foreach_batch(
                os.path.join(out, "staging"), os.path.join(out, "dim"), CDC_KEY, CDC_TRACKED
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(120):
            raise TimeoutError("CDC stream still active after 120 s")
        return [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()


def run_medallion_pass(ctx, data_dir: str, pass_dir: str) -> PassRecord:
    from event_driven_data_pipeline_for_e_commerce_spark.operators.pinning import release_pinned
    from event_driven_data_pipeline_for_e_commerce_spark.pipelines import medallion
    from event_driven_data_pipeline_for_e_commerce_spark.sources.io import write_table

    spark, sc = ctx.spark, ctx.spark.sparkContext
    raw = os.path.join(data_dir, "raw")
    state: dict = {}

    def bronze():
        state["bronze"] = medallion.bronze_ingest(spark, raw, os.path.join(pass_dir, "bronze"))

    def silver():
        state["silver"] = medallion.silver_build(
            spark, state["bronze"], os.path.join(pass_dir, "silver"), _policies()
        )

    def gold():
        s = state["silver"]
        fact = medallion.fact_order_items(
            s["raw_order_items"], s["raw_orders"], s["raw_customers"],
            s["raw_payments"], s["raw_products"], s["raw_sellers"],
        )
        write_table(fact, os.path.join(pass_dir, "gold", "fact_order_items"))

    rec = PassRecord()
    ctx.begin_pass(rec)
    for name, step in (("bronze", bronze), ("silver", silver), ("gold", gold)):
        ctx.failures.attempted += 1
        sc.setJobGroup(f"medallion:{name}", name)
        t0 = time.perf_counter()
        try:
            step()
            rec.ops[name] = time.perf_counter() - t0
            rec.detail[name] = {"cached_mb": ctx.status.cached_mb() if ctx.tracer else 0.0}
        except Exception as e:
            rec.ops[name] = None
            ctx.failures.record(name, e)
        finally:
            release_pinned()
    sc.setJobGroup("perfbench", "cdc stream")
    src = os.path.join(data_dir, "cdc")
    n_files = len(os.listdir(src))
    ctx.failures.attempted += n_files
    try:
        batches = _cdc_stream(ctx, src, pass_dir, os.path.join(pass_dir, "ckpt"))
        if len(batches) != n_files:
            raise RuntimeError(f"{len(batches)} data micro-batches for {n_files} files")
        for i, p in enumerate(batches):
            ms = p["durationMs"]
            rec.ops[f"cdc{i}"] = ms["triggerExecution"] / 1e3
            rec.detail[f"cdc{i}"] = {
                "trigger_s": ms["triggerExecution"] / 1e3,
                "add_batch_s": ms.get("addBatch", 0) / 1e3,
                "num_input_rows": p["numInputRows"],
            }
    except Exception as e:
        for i in range(n_files):
            rec.ops.setdefault(f"cdc{i}", None)
            if rec.ops[f"cdc{i}"] is None:
                ctx.failures.record(f"cdc{i}", e)
    finally:
        release_pinned()
    ctx.end_pass(rec)
    return rec


def check_medallion(ctx, pass_dir: str, truth: dict) -> dict[str, int]:
    """Check one pass's outputs against the generator's ground truth.
    The stream's last file replays change file 1; staging and the
    dimension match the truth only if it ingested nothing. Returns the
    dimension's expired and inserted row counts."""
    import pyspark.sql.functions as F

    spark, wrong = ctx.spark, ctx.failures.wrong
    silver_dir = os.path.join(pass_dir, "silver")
    for table, want in truth["silver_rows"].items():
        df = spark.read.parquet(os.path.join(silver_dir, table))
        sk = f"{table.removeprefix('raw_').removesuffix('s')}_sk"
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(sk).alias("d"),
            F.min(sk).alias("lo"),
            F.max(sk).alias("hi"),
            *[F.sum(F.col(c).isNull().cast("int")).alias(f"null_{c}") for c in df.columns],
        ).collect()[0]
        if row["n"] != want:
            wrong.append(f"silver {table}: {row['n']} rows, want {want}")
        if not (row["d"] == row["n"] and row["lo"] == 1 and row["hi"] == row["n"]):
            wrong.append(f"silver {table}: {sk} not dense and unique ({row['lo']}..{row['hi']}, {row['d']} distinct)")
        nulls = {c: row[f"null_{c}"] for c in df.columns if row[f"null_{c}"]}
        if nulls:
            wrong.append(f"silver {table}: NULLs left {nulls}")
    fact = spark.read.parquet(os.path.join(pass_dir, "gold", "fact_order_items")).count()
    if fact != truth["fact_rows"]:
        wrong.append(f"gold fact_order_items: {fact} rows, want {truth['fact_rows']}")

    cdc = truth["cdc"]
    staging, dim_dir = os.path.join(pass_dir, "staging"), os.path.join(pass_dir, "dim")
    staged = spark.read.parquet(staging).count()
    dim = spark.read.parquet(dim_dir).collect()
    _check_dim(dim, cdc, staged, wrong)
    return {
        "scd2.rows_expired": sum(1 for r in dim if not r["is_current"]),
        "scd2.rows_inserted": len(dim),
    }


def _check_dim(rows, cdc: dict, staged: int, wrong: list[str]) -> None:
    if staged != cdc["staged_rows"]:
        wrong.append(f"cdc staging: {staged} rows, want {cdc['staged_rows']}")
    if len(rows) != cdc["dim_rows"]:
        wrong.append(f"scd2 dimension: {len(rows)} rows, want {cdc['dim_rows']}")
    expired = sum(1 for r in rows if not r["is_current"])
    if expired != cdc["expired"]:
        wrong.append(f"scd2 dimension: {expired} expired rows, want {cdc['expired']}")
    current = {
        r[CDC_KEY]: [r["order_status"], round(float(r["order_value"]), 2)]
        for r in rows
        if r["is_current"]
    }
    if current != cdc["current"]:
        bad = sorted(k for k in set(current) | set(cdc["current"]) if current.get(k) != cdc["current"].get(k))
        wrong.append(f"scd2 current slice differs on {len(bad)} keys, e.g. {bad[:3]}")
    by_key: dict[str, list] = {}
    for r in rows:
        by_key.setdefault(r[CDC_KEY], []).append(r)
    for key, versions in by_key.items():
        versions.sort(key=lambda r: r["valid_from"])
        ok = all(a["valid_to"] == b["valid_from"] for a, b in zip(versions, versions[1:]))
        ok = ok and [r["is_current"] for r in versions] == [False] * (len(versions) - 1) + [True]
        ok = ok and versions[-1]["valid_to"].year == 9999
        if not ok:
            wrong.append(f"scd2 validity intervals of {key} overlap or leave a gap")
            break


def run_attribution(ctx, data_dir: str, run_dir: str) -> None:
    """Once per run, outside the passes: the stateful attribution stream
    under ``Trigger.AvailableNow`` must terminate within
    ``ATTRIBUTION_BOUND_S`` of its data batch, else the operation
    fails. The query is stopped either way."""
    from event_driven_data_pipeline_for_e_commerce_spark.streaming.stateful import (
        purchase_attribution_stream,
    )
    from event_driven_data_pipeline_for_e_commerce_spark.streaming.streams import read_event_stream

    spark = ctx.spark
    src = os.path.join(run_dir, "attribution_src")
    os.makedirs(src)
    shutil.copy(os.path.join(data_dir, "attribution.parquet"), src)
    ctx.failures.attempted += 1
    q = None
    try:
        schema = spark.read.parquet(src).schema
        q = (
            purchase_attribution_stream(read_event_stream(spark, src, schema))
            .writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(run_dir, "ckpt_attribution"))
            .trigger(availableNow=True)
            .start()
        )
        deadline = time.monotonic() + 120
        while not any(p["numInputRows"] > 0 for p in q.recentProgress):
            if not q.isActive or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not q.awaitTermination(ATTRIBUTION_BOUND_S):
            empty = sum(1 for p in q.recentProgress if p["numInputRows"] == 0)
            ctx.failures.record(
                "attribution_stream",
                f"purchase_attribution_stream still active {ATTRIBUTION_BOUND_S} s after its "
                f"data batch under Trigger.AvailableNow ({empty} no-data batches so far)",
            )
    except Exception as e:
        ctx.failures.record("attribution_stream", e)
    finally:
        if q is not None:
            q.stop()


def medallion_bytes(pass_dir: str) -> int:
    """Bytes the pass wrote: landing, Silver, Gold, staging and the
    dimension."""
    return sum(
        _dir_bytes(os.path.join(pass_dir, d))
        for d in ("bronze", "silver", "gold", "staging", "dim")
        if os.path.exists(os.path.join(pass_dir, d))
    )


if __name__ == "__main__":
    prepare(sys.argv[1], int(sys.argv[2]))
