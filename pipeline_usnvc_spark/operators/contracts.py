"""Runtime accuracy contracts for approximate operators.

An approximate query (ANN top-k, sketch distinct, quantile sketch,
iterative graph algorithm) has no SQL oracle, so its external check
is rows-only. These helpers make such queries SELF-CERTIFYING: the
accuracy bound is asserted DURING execution, so a silent accuracy
regression turns into a loud error instead of a green row count.

The assert rides in a WHERE clause, not a projected column, because
Catalyst column-prunes unused projections: ``df.withColumn("c",
assert_true(cond)).count()`` never evaluates the assert (verified
empirically — the count returns), while a filter predicate is
evaluated under EVERY consumption shape (count, collect, write).
``coalesce(assert_true(cond), true)`` keeps all rows when the
contract holds and raises USER_RAISED_EXCEPTION when it doesn't.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class MalformedInputError(ValueError):
    """A Python kernel met input it has no defined result for, such as
    a null or non-finite vector component it would cast to an integer.
    Raised in place of a silently wrong answer."""


def contract_filter(df: DataFrame, condition: Column, message: Column) -> DataFrame:
    """Enforce ``condition`` on every row at execution time.

    Returns ``df`` unchanged row-wise (the predicate is always true
    when the contract holds); raises from any action when it doesn't.
    """
    probe = F.coalesce(F.assert_true(condition, message).cast("boolean"), F.lit(True))
    return df.filter(probe)


def attach_error_contract(
    df: DataFrame,
    approx_col: str,
    exact_col: str,
    bound: float,
    label: str,
    flag_col: str = "within_rsd_bounds",
) -> DataFrame:
    """Append ``rel_err`` + a within-bounds flag and enforce
    ``rel_err <= bound`` as an executed contract.

    ``rel_err`` is |approx - exact| / |exact| with the 0/0 case
    defined as 0 (both empty → perfect); x/0 and a NULL exact are
    unbounded (fail the contract, as they should). The denominator is
    |exact| so a negative exact metric cannot yield a negative
    rel_err that vacuously passes any bound.
    """
    approx = F.col(approx_col).cast("double")
    exact = F.col(exact_col).cast("double")
    rel_err = (
        F.when(exact.isNull(), F.lit(float("inf")))
        .when(exact != 0, F.abs(approx - exact) / F.abs(exact))
        .when(approx == 0, F.lit(0.0))
        .otherwise(F.lit(float("inf")))
    )
    out = df.withColumn("rel_err", rel_err).withColumn(
        flag_col, F.col("rel_err") <= F.lit(bound)
    )
    return contract_filter(
        out,
        F.col(flag_col),
        F.concat(F.lit(f"{label} rel_err out of bounds: "), F.col("rel_err")),
    )
