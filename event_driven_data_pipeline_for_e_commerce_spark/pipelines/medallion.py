"""Medallion pipeline: Bronze → Silver → Gold as single lazy DAGs.

The reference runs this as three notebooks + one SQL script, crossing
the client↔warehouse boundary with a full download/upload at every
stage (SURVEY.md §3: eight round-trips for the Gold build alone). Here
each layer is one distributed plan; nothing lands on the driver.

Layer semantics (reference citations):

- Bronze (``PROJECT/ecom_Bronze_Layer.ipynb:38-58``): every CSV in a
  folder, row-concatenated with a ``source_table`` lineage column, one
  landing table.
- Silver (``PROJECT/ecom_Silver_Layer.ipynb:156-345``): per-table
  cleanse (dedup → null-fill policy → ``load_timestamp`` → date
  parse/durations), surrogate key, one table per source.
- Gold (``PROJECT/ecom_Gold_Layer.ipynb:37-166``): star-schema fact
  build — SK lookups against the dims (the reference hand-rolled
  python dict maps; here broadcast joins), derived measures, FK
  completeness drop, explicit output schema. The reference's
  deliberate cross-join fanout (``:81-82``) is NOT in this DAG — real
  FK equi-joins are (SURVEY.md §7.3); ``operators.joins.cross_join``
  keeps the capability as its own tested operator.

Scale notes: dims are broadcast (small by construction), the Silver
and fact surrogate keys use the hash-bucketed variant (no global-window
funnel, no driver collect, no pin: a row's key is a function of the
frame's content, so building a layer runs no job and leaves nothing
cached), and all writes go through ``sources.io.write_table`` which
supports ``partitionBy`` + within-partition clustering.
"""

from __future__ import annotations

import os
from datetime import date

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.datetimes import date_sk
from ..operators.cleansing import REFERENCE_POLICIES, CleansePolicy, cleanse
from ..operators.dedup import dedup_keyed_ordered
from ..operators.joins import enrich
from ..operators.pinning import pin_scope
from ..operators.surrogate_keys import with_surrogate_key_scalable
from ..sources.io import read_csv_dir, write_table


def bronze_ingest(spark: SparkSession, csv_dir: str, out_dir: str) -> DataFrame:
    """One distributed scan over the CSV folder → one landing table
    with ``source_table`` lineage (ecom_Bronze_Layer.ipynb:38-58).

    Heterogeneous schemas union by name at read time because the scan
    takes the union of headers; files missing a column yield NULLs —
    ``pd.concat`` parity (U1).
    """
    landing = read_csv_dir(spark, csv_dir)
    write_table(landing, os.path.join(out_dir, "raw_landing"))
    return spark.read.parquet(os.path.join(out_dir, "raw_landing"))


def silver_build(
    spark: SparkSession,
    bronze: DataFrame,
    out_dir: str,
    policies: dict[str, CleansePolicy] | None = None,
) -> dict[str, DataFrame]:
    """Split the landing table by lineage, cleanse each per policy, add
    a surrogate key, write one Silver table per source
    (ecom_Silver_Layer.ipynb:156-345).

    The reference's per-table try/except isolation (``:303-320``)
    becomes per-table job isolation: a failing table raises without
    poisoning the others (caller decides whether to continue).
    """
    policies = policies or REFERENCE_POLICIES
    cols = [c for c in bronze.columns if c != "source_table"]
    # bronze unions headers across files: one pass counts every
    # column's non-NULLs per source, so each source keeps only its own
    # columns (the entirely-NULL ones belong to sibling tables)
    non_null_counts = bronze.groupBy("source_table").agg(
        *[F.count(c).alias(c) for c in cols]
    ).collect()
    out: dict[str, DataFrame] = {}
    for counts in sorted(non_null_counts, key=lambda r: r["source_table"]):
        name = counts["source_table"]
        src = bronze.filter(F.col("source_table") == name).select(
            *[c for c in cols if counts[c] > 0]
        )
        policy = policies.get(name, policies.get("default") or CleansePolicy())
        cleaned = cleanse(src, policy)
        sk_col = f"{name.removeprefix('raw_').removesuffix('s')}_sk"
        with pin_scope():
            write_table(
                with_surrogate_key_scalable(cleaned, sk_col),
                os.path.join(out_dir, name),
            )
        out[name] = spark.read.parquet(os.path.join(out_dir, name))
    return out


def build_dim_date(spark: SparkSession, start: date, end: date) -> DataFrame:
    """dim_date(full_date, date_sk) for the span [start, end] — the
    builder missing from the reference snapshot; ``date_sk`` is the
    observed yyyymmdd int encoding (fact_order_lifecycle.csv:2)."""
    return spark.range(1).select(
        F.explode(
            F.sequence(F.lit(start).cast("date"), F.lit(end).cast("date"))
        ).alias("full_date")
    ).withColumn("date_sk", date_sk("full_date"))


def fact_order_lifecycle(events: DataFrame, ts_col: str = "event_timestamp") -> DataFrame:
    """Gold event-grain fact: lifecycle events + yyyymmdd ``date_sk``
    (fact_order_lifecycle.csv header; J6 computed directly instead of
    the dict-map lookup)."""
    return events.withColumn("date_sk", date_sk(ts_col))


def fact_order_items(
    order_items: DataFrame,
    dim_order: DataFrame,
    dim_customer: DataFrame,
    dim_payments: DataFrame,
    dim_products: DataFrame,
    dim_sellers: DataFrame,
    dim_date: DataFrame | None = None,
) -> DataFrame:
    """Gold item-grain fact build (ecom_Gold_Layer.ipynb:62-166) as ONE
    DAG: broadcast SK lookups for every dim, ordered payment dedup,
    derived measures, FK-completeness drop, dense item surrogate key.

    ``order_items`` carries the item grain (order_id, product_id,
    seller_id, price, freight_value, quantity, review_score) — the
    reference's Olist order_items source (listed in its
    ``.MISSING_LARGE_BLOBS``); its snapshot faked the grain with a
    cross join, which this default DAG deliberately avoids
    (SURVEY.md §7.3).
    """
    orders = dim_order.select(
        "order_id", "customer_id", "order_sk",
        F.col("order_purchase_timestamp").alias("__purchase_ts"),
        F.col("order_delivered_customer_date").alias("__delivery_ts"),
    )
    # B10: deterministic first-payment-per-order (min installments)
    payments = dedup_keyed_ordered(
        dim_payments.select("order_id", "payment_installments", "payment_value", "payment_sk"),
        keys=["order_id"],
        order=["payment_installments", "payment_sk"],
    ).select("order_id", "payment_value", "payment_sk")

    fact = (
        order_items
        .join(F.broadcast(orders), "order_id", "left")
        .join(F.broadcast(dim_customer.select("customer_id", "customer_sk")), "customer_id", "left")
        .join(F.broadcast(payments), "order_id", "left")
        .join(F.broadcast(dim_products.select("product_id", "product_sk")), "product_id", "left")
        .join(F.broadcast(dim_sellers.select("seller_id", "seller_sk")), "seller_id", "left")
    )
    fact = (
        fact.withColumn("purchase_date_sk", date_sk("__purchase_ts"))
        .withColumn("delivery_date_sk", date_sk("__delivery_ts"))
        .withColumn(
            "total_revenue",
            F.col("price") * F.col("quantity") + F.col("freight_value"),
        )
        .withColumn("profit_estimate", F.col("price") * F.col("quantity") * F.lit(0.3))
        .withColumn("discount_pct", F.lit(0.0))
    )
    # B7: a fact row must resolve every FK (ecom_Gold_Layer.ipynb:128-133)
    fact = fact.na.drop(
        subset=["order_sk", "customer_sk", "product_sk", "seller_sk", "payment_sk"]
    )
    fact = with_surrogate_key_scalable(fact, "order_item_sk", offset=0)
    # A6: explicit output schema (the declared 17-column fact schema of
    # ecom_Gold_Layer.ipynb:140-166) enforced by cast-projection
    return fact.select(
        "order_item_sk", "order_sk", "customer_sk", "product_sk", "seller_sk",
        "payment_sk", "purchase_date_sk", "delivery_date_sk",
        F.col("quantity").cast("long").alias("quantity"),
        F.col("review_score").cast("long").alias("review_score"),
        F.col("price").cast("double").alias("price"),
        F.col("freight_value").cast("double").alias("freight_value"),
        F.col("payment_value").cast("double").alias("payment_value"),
        F.col("total_revenue").cast("double").alias("total_revenue"),
        F.col("profit_estimate").cast("double").alias("profit_estimate"),
        F.col("discount_pct").cast("double").alias("discount_pct"),
    )
