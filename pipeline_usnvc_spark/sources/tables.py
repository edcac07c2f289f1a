"""Parquet test-table loaders.

The harness provides a TPC-H-ish star schema plus ``events`` (keyed
stream), ``documents`` (text corpus) and ``embeddings`` (vector
table) at several scale factors. Loaders are thin on purpose: the
parquet source already gives Catalyst column pruning + predicate
pushdown + partition-sized splits; adding caching or repartitioning
here would pessimize the common case. 100 TB posture: parquet scans
split by ``spark.sql.files.maxPartitionBytes`` (default 128 MB) —
the same loader serves a 1000-executor cluster unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Tables that are SCALE-INVARIANT (fixed row counts at every scale
# factor) and therefore safe to force-broadcast in joins. part (200k
# rows/SF) and supplier (10k rows/SF) scale LINEARLY with SF and were
# wrongly listed here (review finding) — a forced broadcast of a
# multi-GB part key set at sf1000 is a driver OOM; they now ride the
# planner's size-threshold/AQE decision like every other SF-scaling
# table (the round-9 de-hinting rule).
DIM_TABLES = {"region", "nation"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Timestamp semantics must not depend on the caller's session: pin
    # UTC (runtime conf) so parquet timestamps read/compare identically
    # everywhere, including against the UTC-naive DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize ``ts`` to a microsecond TIMESTAMP regardless of how the
    generator encoded it. Older exports used TIMESTAMP(NANOS), which
    Spark's parquet reader only accepts as long (legacy conf); newer
    exports use plain ``timestamp[us]`` (read as TIMESTAMP_NTZ). Both
    land on the same UTC wall-clock values as DuckDB's naive TIMESTAMP
    in the oracle (session TZ is pinned UTC above)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))
