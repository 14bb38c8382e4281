"""Bronze→Silver→Gold end-to-end test (SURVEY.md §5.2.5) on fixture
CSVs carrying the reference's dirty-data features (FIXTURES.md §A):
duplicate payment rows + installment ties, NULL numerics/strings,
dd-MM-yyyy timestamps, unparseable dates, heterogeneous headers."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from event_driven_data_pipeline_for_e_commerce_spark.operators import pinning
from event_driven_data_pipeline_for_e_commerce_spark.operators.cleansing import (
    CleansePolicy,
    DateDurationConfig,
)
from event_driven_data_pipeline_for_e_commerce_spark.pipelines import (
    bronze_ingest,
    build_dim_date,
    fact_order_items,
    fact_order_lifecycle,
    silver_build,
)
from event_driven_data_pipeline_for_e_commerce_spark.sources.io import write_table

ORDERS = [
    # order_id, customer_id, status, purchase(dd-MM-yyyy HH:mm), delivered
    ("o1", "c1", "delivered", "01-03-2025 10:00", "05-03-2025 16:30"),
    ("o2", "c2", "delivered", "02-03-2025 11:15", "09-03-2025 09:00"),
    ("o3", "c1", "shipped", "03-03-2025 12:00", None),  # dropped: no delivery ts
    ("o4", "c3", "delivered", "junk-date", "10-03-2025 10:00"),  # dropped: bad purchase
    ("o5", "c2", "delivered", "04-03-2025 09:30", "06-03-2025 18:45"),
]

PAYMENTS = [
    # order_id, sequential, type, installments, value — o1 has an exact
    # duplicate row; o2 has an installment tie (1, 1) proving B10 defers
    # to a unique tiebreak; o5 has two distinct rows (min installments wins)
    ("o1", 1, "credit_card", 3, 120.5),
    ("o1", 1, "credit_card", 3, 120.5),
    ("o2", 1, "boleto", 1, 80.0),
    ("o2", 2, "voucher", 1, 20.0),
    ("o5", 1, "credit_card", 5, 200.0),
    ("o5", 2, "credit_card", 2, 50.0),
    ("o4", 1, "debit_card", 1, 75.0),
]

CUSTOMERS = [
    # customer_id, unique_id, city, state, Latitude, Longitude (one NULL pair)
    ("c1", "u1", "sao paulo", "SP", -23.55, -46.63),
    ("c2", "u2", "rio de janeiro", "RJ", None, None),
    ("c3", "u1", "campinas", "SP", -22.90, -47.06),
]

PRODUCTS = [
    # product_id, category (one NULL), weight_g (one NULL)
    ("p1", "beleza_saude", 250.0),
    ("p2", None, 1000.0),
    ("p3", "moveis_decoracao", None),
]

SELLERS = [("s1", "ibitinga", "SP"), ("s2", "curitiba", "PR")]

ITEMS = [
    # order_id, product_id, seller_id, price, freight_value, quantity, review_score
    ("o1", "p1", "s1", 100.0, 20.5, 1, 5),
    ("o2", "p2", "s1", 80.0, 20.0, 2, 4),
    ("o3", "p3", "s2", 60.0, 10.0, 1, 3),  # o3 dropped in silver -> no fact row
    ("o5", "p1", "s2", 45.0, 5.0, 3, 4),
]

EVENTS = [
    ("e1", "o1", "c1", "order_created", "2025-03-01 10:00:00", 1),
    ("e2", "o1", "c1", "order_paid", "2025-03-01 12:00:00", 2),
    ("e3", "o2", "c2", "order_created", "2025-03-02 11:15:00", 1),
]


def _csv(path, header, rows):
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(header + "\n")
        for r in rows:
            fh.write(",".join("" if v is None else str(v) for v in r) + "\n")


def _bronze_silver(spark, tmp_path_factory):
    raw = tmp_path_factory.mktemp("raw")
    out = tmp_path_factory.mktemp("warehouse")
    _csv(raw / "raw_orders.csv",
         "order_id,customer_id,order_status,order_purchase_timestamp,order_delivered_customer_date",
         ORDERS)
    _csv(raw / "raw_payments.csv",
         "order_id,payment_sequential,payment_type,payment_installments,payment_value",
         PAYMENTS)
    _csv(raw / "raw_customers.csv",
         "customer_id,customer_unique_id,customer_city,customer_state,Latitude,Longitude",
         CUSTOMERS)
    _csv(raw / "raw_products.csv", "product_id,product_category_name,product_weight_g", PRODUCTS)
    _csv(raw / "raw_sellers.csv", "seller_id,seller_city,seller_state", SELLERS)
    _csv(raw / "raw_order_items.csv",
         "order_id,product_id,seller_id,price,freight_value,quantity,review_score",
         ITEMS)
    _csv(raw / "synthetic_order_lifecycle.csv",
         "event_id,order_id,customer_id,event_type,event_timestamp,lifecycle_step",
         EVENTS)

    bronze = bronze_ingest(spark, str(raw), str(out / "bronze"))
    policies = {
        "default": CleansePolicy(),
        "raw_orders": CleansePolicy(
            dates=DateDurationConfig(
                date_cols=("order_purchase_timestamp", "order_delivered_customer_date"),
                start_col="order_purchase_timestamp",
                end_col="order_delivered_customer_date",
            ),
        ),
        "synthetic_order_lifecycle": CleansePolicy(
            numeric_fill="zero",
            dates=DateDurationConfig(
                date_cols=("event_timestamp",), since_col="event_timestamp"
            ),
        ),
    }
    silver = silver_build(spark, bronze, str(out / "silver"), policies)
    return bronze, silver


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    return _bronze_silver(spark, tmp_path_factory)


def test_bronze_landing(pipeline_out):
    bronze, _ = pipeline_out
    total_rows = sum(map(len, [ORDERS, PAYMENTS, CUSTOMERS, PRODUCTS, SELLERS, ITEMS, EVENTS]))
    assert bronze.count() == total_rows
    lineage = {r["source_table"] for r in bronze.select("source_table").distinct().collect()}
    assert lineage == {
        "raw_orders", "raw_payments", "raw_customers", "raw_products",
        "raw_sellers", "raw_order_items", "synthetic_order_lifecycle",
    }
    # heterogeneous headers union by name: every source's columns present
    for col in ("order_purchase_timestamp", "payment_value", "Latitude", "event_type"):
        assert col in bronze.columns


def test_silver_semantics(pipeline_out):
    _, silver = pipeline_out
    # B8 full-row dedup: o1's duplicate payment row removed
    pay = silver["raw_payments"]
    assert pay.count() == len(PAYMENTS) - 1
    # F19/F20: product NULLs imputed — category -> 'Unknown', weight -> median
    prod = {r["product_id"]: r for r in silver["raw_products"].collect()}
    assert prod["p2"]["product_category_name"] == "Unknown"
    assert prod["p3"]["product_weight_g"] == pytest.approx(625.0)  # median(250, 1000)
    # date policy: o3 (no delivery) and o4 (junk purchase) dropped; F5 duration
    orders = {r["order_id"]: r for r in silver["raw_orders"].collect()}
    assert set(orders) == {"o1", "o2", "o5"}
    assert orders["o1"]["duration_days"] == 4  # 01-03 10:00 -> 05-03 16:30
    # audit column everywhere (F7)
    for t in silver.values():
        assert "load_timestamp" in t.columns
    # dense surrogate keys 1..n (W2 scalable variant)
    sks = sorted(r["payment_sk"] for r in pay.collect())
    assert sks == list(range(1, pay.count() + 1))


def test_gold_fact_order_items(pipeline_out):
    _, silver = pipeline_out
    fact = fact_order_items(
        silver["raw_order_items"],
        dim_order=silver["raw_orders"],
        dim_customer=silver["raw_customers"],
        dim_payments=silver["raw_payments"],
        dim_products=silver["raw_products"],
        dim_sellers=silver["raw_sellers"],
    )
    rows = {r["order_sk"]: r for r in fact.collect()}
    # o3 dropped in silver, o4 dropped too; o1, o2, o5 items survive FK dropna
    assert fact.count() == 3
    by_price = {r["price"]: r for r in rows.values()}
    r1 = by_price[100.0]  # o1 item
    assert r1["total_revenue"] == pytest.approx(100.0 * 1 + 20.5)
    assert r1["profit_estimate"] == pytest.approx(100.0 * 0.3)
    assert r1["purchase_date_sk"] == 20250301
    assert r1["delivery_date_sk"] == 20250305
    # B10 ordered payment dedup: o5 keeps the 2-installment row (50.0),
    # o2 keeps the (installments=1, lowest sk) row deterministically
    r5 = by_price[45.0]
    assert r5["payment_value"] == pytest.approx(50.0)
    # item surrogate keys dense from 1
    assert sorted(r["order_item_sk"] for r in rows.values()) == [1, 2, 3]
    # no NULL FKs survive (B7)
    for r in rows.values():
        for c in ("customer_sk", "product_sk", "seller_sk", "payment_sk"):
            assert r[c] is not None


def test_gold_lifecycle_and_dim_date(pipeline_out, spark):
    _, silver = pipeline_out
    life = fact_order_lifecycle(silver["synthetic_order_lifecycle"])
    got = {r["event_id"]: r["date_sk"] for r in life.collect()}
    assert got == {"e1": 20250301, "e2": 20250301, "e3": 20250302}

    dd = build_dim_date(spark, dt.date(2025, 3, 1), dt.date(2025, 3, 10))
    assert dd.count() == 10
    rows = dd.orderBy("full_date").collect()
    assert rows[0]["full_date"] == dt.date(2025, 3, 1) and rows[0]["date_sk"] == 20250301
    assert rows[-1]["date_sk"] == 20250310


def test_pipeline_leaves_the_pin_registries_as_found(spark, tmp_path_factory):
    """Bronze→Silver→Gold with the Gold write in a ``pin_scope``: the
    fact's keys need no pin, so nothing built outside the scope stays
    cached once the write is done."""
    before = [[id(df) for df in r] for r in (pinning._PINNED, pinning._PINNED_CRITICAL)]
    _, silver = _bronze_silver(spark, tmp_path_factory)
    fact = fact_order_items(
        silver["raw_order_items"],
        dim_order=silver["raw_orders"],
        dim_customer=silver["raw_customers"],
        dim_payments=silver["raw_payments"],
        dim_products=silver["raw_products"],
        dim_sellers=silver["raw_sellers"],
    )
    gold = str(tmp_path_factory.mktemp("gold"))
    with pinning.pin_scope():
        write_table(fact, gold)
    assert spark.read.parquet(gold).count() == 3
    after = [[id(df) for df in r] for r in (pinning._PINNED, pinning._PINNED_CRITICAL)]
    assert after == before
