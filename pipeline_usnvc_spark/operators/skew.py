"""Skew-management utilities for 100 TB operation.

AQE (enabled in session.py) already splits skewed shuffle-join
partitions at runtime; these helpers cover the cases AQE can't:
aggregations over a hot key (salted two-phase agg) and a skewed
equi-join whose small side is too large to broadcast whole.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count(
    df: DataFrame,
    key: str,
    salt_buckets: int = 16,
    agg_alias: str = "n",
) -> DataFrame:
    """Two-phase count over a skewed key: partial agg on (key, salt)
    spreads a hot key over ``salt_buckets`` reducers, then the tiny
    per-key re-agg combines. Identical result to a direct groupBy.

    The salt derives from monotonically_increasing_id (like
    salted_join), NOT a hash of the row values: a hot key whose rows
    are IDENTICAL after projection (the common case — counting a
    projected key column) would hash every duplicate into one salt
    bucket and defeat the spread exactly when it matters."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    partial = salted.groupBy(key, "_salt").agg(F.count("*").alias("_partial"))
    return partial.groupBy(key).agg(F.sum("_partial").cast("bigint").alias(agg_alias))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
) -> DataFrame:
    """Skewed equi-join: salt the big side's key, explode the small
    side across all salt values, join on (key, salt). Use when a few
    keys dominate and the small side is too large to broadcast whole
    but fine to replicate ``salt_buckets`` times."""
    big_s = big.withColumn("_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets)))
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<bigint>"))
    )
    return big_s.join(small_s, [key, "_salt"]).drop("_salt")
