"""Sub-record nesting (reference J10/A2).

The reference attaches related records to each unit with an O(n)
filter per output row (``df.loc[df.key == id].to_dict('records')``,
usnvc/usnvc.py:318-322, 371-387, 456-470). The set-based rewrite is
ONE aggregation per related table:

    groupBy(key).agg(collect_list(struct(...))) → left join to units

which shuffles each related table once on the key instead of scanning
it once per unit. ``collect_list`` order is partition-dependent, so
every nest is ordered: sort_array over a (order_by, payload) struct
sorts by ``order_by`` and breaks its ties on the payload itself
(SURVEY §7.4.7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def nest_records(
    df: DataFrame,
    key: str,
    payload: list[Column] | list[str],
    order_by: str | Column,
    out_col: str = "records",
) -> DataFrame:
    """(key, array<struct<payload>>) ordered by (``order_by``, payload)."""
    payload_cols = [F.col(c) if isinstance(c, str) else c for c in payload]
    order_col = F.col(order_by) if isinstance(order_by, str) else order_by
    # Sort by the order key embedded at position 0, then strip it.
    wrapped = F.collect_list(F.struct(order_col.alias("_ord"), F.struct(*payload_cols).alias("_p")))
    return df.groupBy(key).agg(F.transform(F.sort_array(wrapped), lambda s: s["_p"]).alias(out_col))


def attach_nested(
    base: DataFrame,
    related: DataFrame,
    key: str,
    payload: list[Column] | list[str],
    order_by: str | Column,
    out_col: str = "records",
) -> DataFrame:
    """Left-join nested sub-records onto a base table.

    Reproduces the reference's row-existence guard (``if
    len(df.index) > 0``, usnvc.py:320): a key with no related rows
    carries null (key absent in the JSON sink), not an empty array.
    """
    return base.join(nest_records(related, key, payload, order_by, out_col), key, "left")
