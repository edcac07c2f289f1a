"""Central query registry.

Each query is a callable ``(spark, sf_dir) -> DataFrame`` registered
with an optional DuckDB oracle SQL string. The driver hash-compares
Spark result vs oracle result (order-insensitive, column-name-sorted)
— so every computed column is aliased identically on both sides, and
floating-point outputs are produced by arithmetic that is IEEE-
deterministic and identical in both engines (decimal-exact sums cast
to double; sequential left-folds for vector math) rather than relying
on tolerant comparison.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` marks a rows-only check
    (non-SQL-expressible operators: streaming, approximate, stubs)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _d38(c: Column) -> Column:
    """Exact-integer product/sum domain (overflow-safe sufficient
    statistics — the suite-wide DECIMAL(38,0) discipline)."""
    return c.cast("decimal(38,0)")


def _dec(c: Column | str, scale: int = 2) -> Column:
    """Money-exact DECIMAL(18, scale) of a column or column name."""
    return (F.col(c) if isinstance(c, str) else c).cast(f"decimal(18,{scale})")
