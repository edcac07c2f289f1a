"""Change ledger + validated JSON sink (reference S3/S6).

The reference logs one change event per row per stage through a
harness callback (usnvc.py:24-28, 55-57, 74-77) and sends each
document through a draft-07-validated sink (README.md:35-45). The
Spark equivalents: the write's own ``Observation`` counts (rows,
rejects, ``documents_written``) in place of the per-row event log, and
a final-select validation with a quarantine channel instead of a
per-row schema validator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _envelope_line():
    """The JSONL envelope expression
    ``{"source_data": <raw doc json>, "row_id": <escaped>}``. row_id
    is escaped via to_json (a quote/backslash/newline in an id would
    otherwise corrupt the line); source_data is already-serialized
    JSON and is spliced in raw."""
    rid = F.to_json(F.struct(F.col("row_id")))  # {"row_id":"<escaped>"}
    return F.concat(
        F.lit('{"source_data": '),
        F.col("source_data"),
        F.lit(', '),
        rid.substr(F.lit(2), F.length(rid) - F.lit(2)),
        F.lit('}'),
    )


def write_documents(
    docs: DataFrame,
    out_dir: str,
    quarantine_dir: str | None = None,
) -> dict[str, int]:
    """Validated envelope sink: ``{"source_data": <doc>, "row_id": <id>}``
    one JSON object per line. Rows failing the envelope contract
    (null id, null or empty doc) go to the quarantine path instead of
    failing the job — the scalable version of the reference harness's
    per-row schema rejection. A null row_id would serialize to '{}',
    whose trimmed body is '' (an invalid line), and a null source_data
    nulls the whole concat.

    The document plan runs once. An ``Observation`` on the valid-line
    write collects, during that same action, the row count
    ``n_docs``, ``n_null_ids``, the rejected count ``n_rejected`` and
    ``payload_bytes``; they are returned with ``documents_written``,
    the valid rows written (``n_docs - n_rejected``). The quarantine
    write reads ``docs`` again only when a row was rejected; otherwise
    it writes ``docs.limit(0)``, which Catalyst folds to an empty
    relation, so no source is scanned and the directory still holds an
    empty part file and ``_SUCCESS``.
    """
    ok = F.col("row_id").isNotNull() & F.col("source_data").isNotNull() & (F.col("source_data") != "")
    obs = Observation()
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("row_id").isNull(), 1).otherwise(0)).alias("n_null_ids"),
        F.sum(F.when(ok, 0).otherwise(1)).alias("n_rejected"),
        F.sum(F.length("source_data")).alias("payload_bytes"),
    )
    observed.filter(ok).select(_envelope_line().alias("value")).write.mode("overwrite").text(out_dir)
    # sum() over zero rows is NULL: an empty (but successful) write
    # must report zeros, not raise int(None)
    metrics = {k: int(v or 0) for k, v in obs.get.items()}
    metrics["documents_written"] = metrics["n_docs"] - metrics["n_rejected"]
    if quarantine_dir is not None:
        rejected = docs.filter(~ok) if metrics["n_rejected"] else docs.limit(0)
        rejected.select(
            F.coalesce(F.col("row_id"), F.lit("<null>")).alias("row_id"),
            F.coalesce(F.col("source_data"), F.lit("")).alias("source_data"),
        ).write.mode("overwrite").json(quarantine_dir)
    return metrics
