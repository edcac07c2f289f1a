"""Exact global ranking without a single-partition sort.

``Window.orderBy(...)`` with no partitionBy collapses the whole table
into ONE task — the classic scale cliff (fine at sf0.01, dead at
100 TB). The two-phase formulation here is the standard distributed
fix (TeraSort-style):

  1. ``repartitionByRange`` on the order key + ``sortWithinPartitions``
     — ranges are disjoint and ordered by partition id, so global
     order = (partition id, local order).
  2. per-partition row numbers WITHOUT a window:
     ``monotonically_increasing_id`` encodes (partition id << 33) +
     in-partition record number, and after the in-partition sort the
     record number IS the local rank. A ``Window.partitionBy(_pid)``
     here would force Catalyst to insert a second full exchange
     (hashpartitioning on _pid right after the range exchange — range
     partitioning doesn't satisfy the window's hash requirement);
     decoding the id is map-side free. Measured: removes one full
     shuffle of the fact table.
  3. a tiny per-partition row-count table → cumulative offsets
     (#partitions rows — driver/broadcast scale), broadcast-joined
     back: global_rank = offset + local rank.

Range boundaries come from Spark's reservoir sampling; wherever the
cuts land, ranks are exact because ranges never overlap. One full
shuffle (the range exchange) — same as any sort — but parallel
everywhere. Limit: 2^33 ≈ 8.6B rows per partition (the id encoding),
far beyond any sane partition size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pipeline_usnvc_spark.operators.checkpoint import materialize

_RECORD_BITS = 33  # monotonically_increasing_id: lower 33 bits = record number


def with_global_rank(
    df: DataFrame,
    *order_cols: str | Column,
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``rank_col`` = exact 1-based global row_number under
    ``order_cols`` (must be a total order — include a unique
    tie-breaker; with ties row_number is nondeterministic).
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    ).sortWithinPartitions(*cols)
    mid = F.monotonically_increasing_id()
    # Materialized ONCE: both consumers below (the ranked rows and the
    # offsets table) would otherwise re-execute the range exchange —
    # and repartitionByRange re-SAMPLES its child per execution, so
    # without this the input is scanned several times over.
    local = materialize(
        ranged.withColumn("_pid", F.shiftright(mid, _RECORD_BITS))
        .withColumn(
            "_lrn",
            mid.bitwiseAND(F.lit((1 << _RECORD_BITS) - 1)).cast("bigint") + F.lit(1),
        )
    )
    # (#partitions)-row side table: cumulative count of rows in all
    # preceding ranges. The unpartitioned window here is fine — it
    # runs over partition COUNTS, not data rows.
    offsets = (
        local.groupBy("_pid")
        .agg(F.count("*").alias("_n"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, (F.col("_lrn") + F.col("_off")).cast("bigint"))
        .drop("_pid", "_lrn", "_off")
    )


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """Exact SQL ``NTILE(k)`` derived from a 1-based global rank and
    the total row count — so an unpartitioned ``ntile().over(...)``
    (single-partition sort, the classic scale cliff) can be replaced
    by :func:`with_global_rank` + this map-side expression.

    Standard NTILE semantics (identical in Spark and DuckDB): with
    ``q = n div k`` and ``rem = n mod k``, the first ``rem`` buckets
    hold ``q + 1`` rows and the rest hold ``q``. Verified against
    ``F.ntile`` in tests/test_scale_ops.py across n % k edge cases.
    """
    n = n.cast("bigint")
    r = rank.cast("bigint")

    def idiv(x: Column, y: Column) -> Column:
        # Integer floor division without a double-truncation hazard
        # (ADVICE r05): subtract the remainder first so the division
        # operates on an exact multiple of y. The double transit is
        # exact while the multiple stays below 2^53 — row counts past
        # 9e15 are beyond any deployment this engine targets, and the
        # remainder subtraction keeps the result exact (a bare
        # floor(x / y) is off-by-one whenever x/y lands on an
        # unrepresentable double just below an integer).
        return ((x - F.pmod(x, y)) / y).cast("bigint")

    q = idiv(n, F.lit(k).cast("bigint"))
    rem = (n % k).cast("bigint")
    big = rem * (q + 1)  # rows covered by the (q+1)-sized buckets
    return (
        F.when(r <= big, idiv(r - 1, q + 1) + 1)
        .otherwise(rem + idiv(r - big - 1, q) + 1)
        .cast("int")
    )


def with_global_cumsum(
    df: DataFrame,
    value_col: str,
    *order_cols: str | Column,
    cumsum_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``cumsum_col`` = exact inclusive global running sum of
    ``value_col`` under the total order ``order_cols`` — the
    distributed prefix-sum.

    Same shape as :func:`with_global_rank`: one range exchange, then
    strictly map-side work. The in-partition running sum can't be
    decoded from monotonically_increasing_id (it's a sum, not a
    count), and a ``Window.partitionBy(pid)`` would re-shuffle the
    range-partitioned rows (hash exchange on pid), so the local scan
    is an Arrow ``mapInPandas`` pass: vectorized ``cumsum`` per batch
    plus a scalar carry across batches — zero extra shuffle, O(batch)
    memory. Per-partition totals (#partitions rows) become broadcast
    offsets exactly as in the rank path.

    Exact for integral values; for floats the result is deterministic
    for a fixed partitioning but associates additions per-partition
    (as any distributed float sum does).
    """
    import pandas as pd
    from collections.abc import Iterator

    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    ).sortWithinPartitions(*cols)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    value_type = dict(df.dtypes)[value_col]
    is_float = value_type in ("float", "double")
    sum_type = "double" if is_float else "long"
    # Copy the fields — StructType.add mutates in place, and the input
    # DataFrame's cached schema object must not grow a ghost column.
    out_schema = StructType(
        list(with_pid.schema.fields)
        + [StructField("_lcs", DoubleType() if is_float else LongType())]
    )

    def local_cumsum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = 0
        for pdf in batches:
            c = pdf[value_col].cumsum() + carry
            if len(c):
                carry = c.iloc[-1]
            out = pdf.copy()
            out["_lcs"] = c
            yield out

    # Materialized once: the offsets table and the joined result would
    # otherwise both re-execute the range exchange (and
    # repartitionByRange re-samples its child per consumer).
    local = materialize(with_pid.mapInPandas(local_cumsum, schema=out_schema))
    # Partition totals from the values themselves (NOT max(_lcs),
    # which only equals the last running sum when values are >= 0).
    offsets = (
        local.groupBy("_pid")
        .agg(F.sum(value_col).cast(sum_type).alias("_ptot"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_ptot").over(
                    Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast(sum_type),
            ),
        )
        .select("_pid", "_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(cumsum_col, (F.col("_lcs") + F.col("_off")).cast(sum_type))
        .drop("_pid", "_lcs", "_off")
    )
