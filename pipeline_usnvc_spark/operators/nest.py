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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipeline_usnvc_spark.functions.text import ident


def nest_records(
    df: DataFrame,
    key: str,
    payload: list[str],
    order_by: str,
    out_col: str = "records",
) -> DataFrame:
    """(key, array<struct<payload>>) ordered by (``order_by``, payload).

    ``payload`` and ``order_by`` are SQL expression texts: a column
    name is one, and a computed field carries its name with ``AS``. The
    aggregate is built as one expression text, so its cost on the
    driver does not grow with the number of payload fields.
    """
    # Sort by the order key embedded at position 0, then strip it.
    wrapped = f"collect_list(struct({order_by} AS _ord, struct({', '.join(payload)}) AS _p))"
    return df.groupBy(key).agg(F.expr(f"transform(sort_array({wrapped}), s -> s._p) AS {ident(out_col)}"))


def attach_nested(
    base: DataFrame,
    related: DataFrame,
    key: str,
    payload: list[str],
    order_by: str,
    out_col: str = "records",
) -> DataFrame:
    """Left-join nested sub-records onto a base table.

    Reproduces the reference's row-existence guard (``if
    len(df.index) > 0``, usnvc.py:320): a key with no related rows
    carries null (key absent in the JSON sink), not an empty array.
    """
    return base.join(nest_records(related, key, payload, order_by, out_col), key, "left")
