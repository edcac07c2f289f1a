"""Flagship query: nested document assembly, the reference's core
shape (SURVEY §1.4/§3.4) on the test schema.

One wide declarative plan: broadcast dimension decode → set-based
sub-record nesting → conditional scalar sections → JSON envelope
(`source_data` + `row_id`, reference usnvc.py:78-80). No per-row
Python anywhere; the whole document builds inside whole-stage codegen
and one shuffle (the orders nest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline_usnvc_spark.operators.joins import decode_dimension
from pipeline_usnvc_spark.operators.nest import attach_nested
from pipeline_usnvc_spark.sources.tables import load_table


def customer_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")

    # Dimension decode (broadcast): customer → nation → region.
    decoded = decode_dimension(cust, nation, "c_nationkey", rename={"n_nationkey": "c_nationkey"})
    decoded = decode_dimension(decoded, region, "n_regionkey", rename={"r_regionkey": "n_regionkey"})

    # Nest each customer's orders (newest first deterministic order).
    nested = attach_nested(
        decoded,
        orders.select(
            "c_custkey",
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
        ),
        key="c_custkey",
        payload=["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
        order_by="o_orderkey",
        out_col="orders",
    )

    doc = F.struct(
        F.struct(
            F.col("c_custkey").alias("id"),
            F.col("c_name").alias("name"),
        ).alias("Identifiers"),
        F.struct(
            F.col("c_mktsegment").alias("segment"),
            F.when(F.col("c_acctbal") >= 0, F.col("c_acctbal")).alias("account_balance"),
            F.concat(F.col("c_name"), F.lit(" ("), F.col("n_name"), F.lit(")")).alias("title"),
        ).alias("Overview"),
        F.struct(
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        ).alias("Distribution"),
        F.col("orders").alias("Orders"),
    )
    return nested.select(
        F.col("c_custkey").cast("string").alias("row_id"),
        F.to_json(doc).alias("source_data"),
    )
