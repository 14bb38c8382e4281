"""Seeded input generators for the benchmark workloads.

Two input sets, both a pure function of the seed:

- ``make_star``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that ``plans.tables.load_tables``
  reads (one parquet file per table), shaped like the project's
  deterministic testdata (uniform keys, exponential event gaps, unit
  64-d embeddings, a vocabulary-of-31 text corpus with a near-duplicate
  share so the dedup queries have work to do).
- ``make_olist``: Olist-shaped CSVs for the Bronze -> Silver -> Gold
  pipeline carrying the reference's dirty data, the CDC order-change
  files for the SCD2 stream, and the ground truth the benchmark checks
  the pipeline against, computed here by simulating the documented
  semantics in plain Python.

Both write through pandas/pyarrow only; neither imports the program.
"""

from __future__ import annotations

import csv
import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- star schema

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split() + ["data"]


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.15:
            # near duplicate: copy an earlier document, swap a few words
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(v),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def make_star(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten star-schema tables for scale factor ``sf`` (sf0.01
    = 15,000 orders / 60,000 lineitems) and return their row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = 4 * n_ord, int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    tables = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
                "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": [STATUSES[k] for k in rng.integers(0, 3, n_ord)],
                "o_totalprice": money(1000, 500_000, n_ord),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
                "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": money(900, 105_000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)],
                "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_li)],
                "l_shipdate": _days(rng, n_li, "1995-01-02", 2498),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": np.datetime64("2024-01-01", "us")
                + np.cumsum(rng.exponential(30 * 86400e6 / n_ev, n_ev)).astype("timedelta64[us]"),
                "user_id": rng.integers(0, max(150, n_cust // 10), n_ev).astype(np.int64),
                "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, df in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(df) for name, df in tables.items()}


def make_attribution_events(path: str, n: int = 400) -> None:
    """Fixed (seed-independent) event file for the attribution stream."""
    rng = np.random.default_rng(0)
    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(n, dtype=np.int64),
                "ts": np.datetime64("2024-01-01", "us")
                + np.cumsum(rng.integers(1, 600, n) * 1_000_000).astype("timedelta64[us]"),
                "user_id": rng.integers(0, 20, n).astype(np.int64),
                "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n)],
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": ['{"k": 1}'] * n,
            }
        ),
        path,
    )


# ---------------------------------------------------------------- Olist + CDC

# Reference cardinalities (BASELINE.md); ``scale`` multiplies them.
OLIST = {
    "orders": 99_441,
    "payments": 103_886,
    "payment_dups": 2_050,
    "products": 32_951,
    "sellers": 3_095,
    "items": 112_650,
}
ORDER_STATUS = ["delivered"] * 17 + ["shipped", "invoiced", "processing"]
PAY_TYPES = ["credit_card", "boleto", "voucher", "debit_card"]
CATEGORIES = ["beleza_saude", "moveis_decoracao", "esporte_lazer", "informatica", "utilidades"]
STATES = ["SP", "RJ", "MG", "RS", "PR", "SC", "BA"]
CITIES = ["sao paulo", "rio de janeiro", "belo horizonte", "curitiba", "campinas"]
# strings no reference format parses: dropped in Silver
JUNK_DATES = ["not-a-date", "2018/13/45", "??"]
CDC_STATUSES = ["created", "approved", "invoiced", "shipped", "delivered", "canceled"]

# Silver date policy for raw_orders (both timestamps required)
ORDER_DATE_COLS = ("order_purchase_timestamp", "order_delivered_customer_date")


def _fmt(ts: datetime, style: int) -> str:
    # style 0: Olist's native ISO form; 1: the reference's dd-MM-yyyy HH:mm
    return ts.strftime("%Y-%m-%d %H:%M:%S") if style == 0 else ts.strftime("%d-%m-%Y %H:%M")


def _csv(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])


def _maybe_null(rng: np.random.Generator, v, share: float):
    return None if rng.random() < share else v


def make_olist(out_dir: str, seed: int, scale: float, n_change_files: int) -> dict:
    """Write ``raw/*.csv`` and ``cdc/change_*.parquet`` under
    ``out_dir`` and return the ground truth (also saved as
    ``truth.json``)."""
    rng = np.random.default_rng(seed)
    raw, cdc = os.path.join(out_dir, "raw"), os.path.join(out_dir, "cdc")
    os.makedirs(raw, exist_ok=True)
    os.makedirs(cdc, exist_ok=True)
    n = {k: max(1, round(v * scale)) for k, v in OLIST.items()}
    n_ord = n["orders"]
    t0 = datetime(2017, 1, 1)

    orders, valid_orders = [], set()
    for i in range(n_ord):
        oid, style = f"o{i:07d}", int(rng.random() < 0.3)
        bought = t0 + timedelta(minutes=int(rng.integers(0, 600 * 24 * 60)))
        purchase = _fmt(bought, style)
        delivered = _fmt(bought + timedelta(hours=int(rng.integers(24, 24 * 30))), style)
        u = rng.random()
        if u < 0.01:
            purchase = JUNK_DATES[i % len(JUNK_DATES)]
        elif u < 0.03:
            delivered = None  # not yet delivered
        else:
            valid_orders.add(oid)
        orders.append(
            [oid, f"c{i:07d}", ORDER_STATUS[int(rng.integers(0, 20))], purchase, delivered]
        )

    customers = [
        [
            f"c{i:07d}",
            f"u{int(rng.integers(0, n_ord)):07d}",
            _maybe_null(rng, int(rng.integers(1000, 99999)), 0.005),
            _maybe_null(rng, CITIES[int(rng.integers(0, 5))], 0.01),
            STATES[int(rng.integers(0, 7))],
            *(
                [None, None]
                if rng.random() < 0.005
                else [round(-23 + rng.normal(0, 3), 6), round(-46 + rng.normal(0, 3), 6)]
            ),
        ]
        for i in range(n_ord)
    ]

    # one payment per order, the rest as second installments plans
    n_unique_pay = n["payments"] - n["payment_dups"]
    payments = []
    extra = set(rng.choice(n_ord, size=max(0, n_unique_pay - n_ord), replace=False).tolist())
    for i in range(n_ord):
        for seq in (1, 2) if i in extra else (1,):
            payments.append(
                [
                    f"o{i:07d}",
                    seq,
                    PAY_TYPES[int(rng.integers(0, 4))],
                    int(rng.integers(1, 11)),
                    _maybe_null(rng, round(float(rng.uniform(10, 900)), 2), 0.01),
                ]
            )
    dup_idx = rng.choice(len(payments), size=n["payment_dups"], replace=False)
    payments += [list(payments[j]) for j in dup_idx]
    payments = [payments[j] for j in rng.permutation(len(payments))]

    products = [
        [
            f"p{i:06d}",
            _maybe_null(rng, CATEGORIES[int(rng.integers(0, 5))], 0.0185),
            _maybe_null(rng, float(rng.integers(50, 30000)), 0.001),
            int(rng.integers(1, 6)),
        ]
        for i in range(n["products"])
    ]
    sellers = [
        [f"s{i:05d}", int(rng.integers(1000, 99999)), CITIES[int(rng.integers(0, 5))],
         STATES[int(rng.integers(0, 7))]]
        for i in range(n["sellers"])
    ]
    # every order has one item; the rest land on random orders
    item_orders = np.concatenate(
        [np.arange(n_ord), rng.integers(0, n_ord, max(0, n["items"] - n_ord))]
    )
    items = [
        [
            f"o{int(o):07d}",
            f"p{int(rng.integers(0, n['products'])):06d}",
            f"s{int(rng.integers(0, n['sellers'])):05d}",
            round(float(rng.uniform(5, 500)), 2),
            round(float(rng.uniform(1, 60)), 2),
            int(rng.integers(1, 4)),
            _maybe_null(rng, int(rng.integers(1, 6)), 0.02),
        ]
        for o in item_orders
    ]

    _csv(os.path.join(raw, "raw_orders.csv"),
         ["order_id", "customer_id", "order_status", *ORDER_DATE_COLS], orders)
    _csv(os.path.join(raw, "raw_customers.csv"),
         ["customer_id", "customer_unique_id", "customer_zip_code_prefix",
          "customer_city", "customer_state", "Latitude", "Longitude"], customers)
    _csv(os.path.join(raw, "raw_payments.csv"),
         ["order_id", "payment_sequential", "payment_type", "payment_installments",
          "payment_value"], payments)
    _csv(os.path.join(raw, "raw_products.csv"),
         ["product_id", "product_category_name", "product_weight_g", "product_photos_qty"],
         products)
    _csv(os.path.join(raw, "raw_sellers.csv"),
         ["seller_id", "seller_zip_code_prefix", "seller_city", "seller_state"], sellers)
    _csv(os.path.join(raw, "raw_order_items.csv"),
         ["order_id", "product_id", "seller_id", "price", "freight_value", "quantity",
          "review_score"], items)

    truth = {
        "silver_rows": {
            "raw_orders": len(valid_orders),
            "raw_customers": n_ord,
            "raw_payments": n_unique_pay,
            "raw_products": n["products"],
            "raw_sellers": n["sellers"],
            "raw_order_items": len(items),
        },
        "payment_dups": n["payment_dups"],
        "fact_rows": sum(1 for it in items if it[0] in valid_orders),
        "input_bytes": sum(
            os.path.getsize(os.path.join(raw, f)) for f in os.listdir(raw)
        ),
    }
    truth["cdc"] = _make_cdc(rng, cdc, n_ord, n_change_files)
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return truth


def _make_cdc(rng: np.random.Generator, cdc_dir: str, n_ord: int, n_files: int) -> dict:
    """Order-change files for the HWM-ingest + SCD2 stream, and what the
    stream must leave behind. File 0 is the initial load; each later
    file carries changed keys, keys changed twice, unchanged
    re-deliveries, brand-new keys and late rows at or below the
    high-water mark (which the ingest drops). A last file replays file
    1 whole."""
    n_init = max(8, n_ord // 5)
    per = max(4, n_init // 10)
    t = datetime(2024, 1, 1)
    current: dict[str, tuple[str, float]] = {}
    next_key, hwm = n_init, None
    expired = inserted = 0
    rows_per_file, fresh_per_file = [], []

    def value() -> tuple[str, float]:
        return CDC_STATUSES[int(rng.integers(0, 6))], round(float(rng.uniform(10, 900)), 2)

    def changed(old: tuple[str, float]) -> tuple[str, float]:
        status = CDC_STATUSES[(CDC_STATUSES.index(old[0]) + int(rng.integers(1, 6))) % 6]
        return status, old[1]

    for f in range(n_files):
        rows: list[tuple[str, str, float, datetime]] = []
        clock = [t + timedelta(days=f)]

        def tick() -> datetime:
            clock[0] += timedelta(seconds=int(rng.integers(1, 4)))
            return clock[0]

        if f == 0:
            for i in range(n_init):
                rows.append((f"o{i:07d}", *value(), tick()))
        else:
            keys = list(current)
            picks = rng.choice(len(keys), size=4 * per, replace=False)
            upd, twice, same = picks[:per * 2], picks[per * 2:per * 3], picks[per * 3:]
            for j in upd:
                k = keys[j]
                rows.append((k, *changed(current[k]), tick()))
            for j in twice:
                k = keys[j]
                first = changed(current[k])
                rows.append((k, *first, tick()))
                rows.append((k, *changed(first), tick()))
            for j in same:
                k = keys[j]
                rows.append((k, *current[k], tick()))
            for _ in range(per):
                rows.append((f"o{next_key:07d}", *value(), tick()))
                next_key += 1
            # late rows: at or below the previous file's high-water mark
            for j in rng.choice(len(keys), size=max(1, per // 2), replace=False):
                rows.append((keys[j], *changed(current[keys[j]]), hwm - timedelta(seconds=int(j % 3))))
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]

        fresh = [r for r in rows if hwm is None or r[3] > hwm]
        latest: dict[str, tuple] = {}
        for r in sorted(fresh, key=lambda r: r[3]):
            latest[r[0]] = r
        for k, r in latest.items():
            if k not in current:
                inserted += 1
            elif current[k] != (r[1], r[2]):
                expired += 1
                inserted += 1
            current[k] = (r[1], r[2])
        hwm = max(r[3] for r in fresh)
        rows_per_file.append(len(rows))
        fresh_per_file.append(len(fresh))
        path = os.path.join(cdc_dir, f"change_{f:03d}.parquet")
        _write(
            pd.DataFrame(rows, columns=["order_id", "order_status", "order_value", "ts"]).astype(
                {"ts": "datetime64[us]"}
            ),
            path,
        )
        # the file source orders files by modification time
        stamp = 1_700_000_000 + f * 10
        os.utime(path, (stamp, stamp))
    # change file 1 delivered again, last: at or below the high-water
    # mark throughout, so the ingest must take none of it
    replay = os.path.join(cdc_dir, f"change_{n_files:03d}_replay.parquet")
    shutil.copyfile(os.path.join(cdc_dir, "change_001.parquet"), replay)
    stamp = 1_700_000_000 + n_files * 10
    os.utime(replay, (stamp, stamp))
    rows_per_file.append(rows_per_file[1])
    fresh_per_file.append(0)
    return {
        "files": n_files + 1,
        "rows_per_file": rows_per_file,
        "fresh_per_file": fresh_per_file,
        "staged_rows": sum(fresh_per_file),
        "expired": expired,
        "inserted": inserted,
        "initial": n_init,
        "dim_rows": inserted,
        "current": {k: [s, v] for k, (s, v) in sorted(current.items())},
    }
