"""Source/format widening: ORC roundtrip, the binaryFile source
feeding the multimodal plumbing, and the USNVC sink and integrity
guards."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_orc_roundtrip_preserves_documents(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs_orc")
    docs.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.schema == docs.schema
    assert back.count() == docs.count()
    a = docs.agg(F.sum(F.crc32(F.concat_ws("|", "doc_id", "text"))).alias("h")).head()["h"]
    b = back.agg(F.sum(F.crc32(F.concat_ws("|", "doc_id", "text"))).alias("h")).head()["h"]
    assert a == b


def test_orc_predicate_pushdown(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs_orc2")
    docs.write.mode("overwrite").orc(out)
    df = spark.read.orc(out).filter(F.col("doc_id") < 10).select("doc_id")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters" in plan and "LessThan(doc_id,10)" in plan, plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan


def test_binaryfile_source_feeds_multimodal(spark, tmp_path):
    """binaryFile is the ingest path for opaque media blobs: read
    files as (path, content binary), attach typed metadata, and run
    the multimodal Arrow extraction over them."""
    d = tmp_path / "blobs"
    d.mkdir()
    payloads = {f"img{i}.jpg": bytes([i]) * (16 + i) for i in range(3)}
    for name, blob in payloads.items():
        (d / name).write_bytes(blob)
    raw = spark.read.format("binaryFile").option("pathGlobFilter", "*.jpg").load(str(d))
    assert raw.count() == 3
    assert {f.name for f in raw.schema.fields} >= {"path", "content", "length"}
    media = raw.select(
        F.crc32(F.col("path")).cast("bigint").alias("doc_id"),
        F.element_at(F.split("path", "/"), -1).alias("name"),
        F.col("content").alias("media"),
        F.struct(
            F.lit("image/jpeg").alias("mime"),
            F.lit(4).cast("int").alias("width"),
            F.lit(4).cast("int").alias("height"),
            F.col("length").cast("bigint").alias("n_bytes"),
        ).alias("media_meta"),
    )
    from pipeline_usnvc_spark.operators.multimodal import extract_features

    name_by_id = {r["doc_id"]: r["name"] for r in media.collect()}
    feats = extract_features(media.drop("name"))
    rows = {name_by_id[r["doc_id"]]: r for r in feats.collect()}
    assert set(rows) == set(payloads)
    for name, blob in payloads.items():
        assert rows[name]["n_bytes"] == len(blob)
        assert rows[name]["feature_kind"] == "stub_byte_histogram"


def test_round10_source_guards(spark, tmp_path):
    """Regression batch for the round-10 sources/usnvc review:

    1. the observed sink (write_documents) applies its `ok` contract: a
       null row_id previously serialized to the invalid JSON line
       '{"source_data": ..., }' and a null source_data wrote a blank
       line; both are now dropped while the metrics still count them.
    2. build_documents fails loudly on a dangling parent_id instead
       of shipping a document whose ancestors claim the root while
       its parent points at a missing unit (test_dangling_parent_fails_loudly).
    """
    import json

    from pipeline_usnvc_spark.usnvc.ledger import write_documents

    docs = spark.createDataFrame(
        [('{"id": 1}', "a"), (None, "b"), ('{"id": 3}', None)],
        "source_data string, row_id string",
    )
    out = str(tmp_path / "obs")
    metrics = write_documents(docs, out)
    assert metrics["n_docs"] == 3 and metrics["n_null_ids"] == 1
    lines = [
        json.loads(ln)
        for ln in spark.read.text(out).toPandas()["value"]
        if ln.strip()
    ]
    assert len(lines) == 1 and lines[0]["row_id"] == "a"


def _usnvc_export(tmp_path, name, tables):
    """The fixture export with the rows of each table in ``tables``
    replaced (an empty list leaves the header row alone)."""
    from tests.usnvc_fixture import TABLES, write_fixture

    export = write_fixture(tmp_path / name)
    for table, rows in tables.items():
        lines = ["\t".join(TABLES[table][0])] + ["\t".join(r) for r in rows]
        (export / f"{table}.txt").write_text("\n".join(lines) + "\n", encoding="ISO-8859-1")
    return str(export)


def test_dangling_parent_fails_loudly(spark, tmp_path):
    """A truncated export (unit 111's row is missing, so its child 112
    names a parent with no unit row) fails in build_documents, before
    anything is written, naming the missing id; an export with no units
    writes exactly the synthetic root."""
    import json

    import pytest

    from tests.usnvc_fixture import TABLES
    from pipeline_usnvc_spark.usnvc.docs import build_documents
    from pipeline_usnvc_spark.usnvc.ingest import build_silver, read_export
    from pipeline_usnvc_spark.usnvc.ledger import write_documents

    def docs(export):
        return build_documents(build_silver(read_export(spark, export)), "2026-01-01T00:00:00")

    truncated = [r for r in TABLES["unit"][1] if r[0] != "111"]
    with pytest.raises(ValueError, match=r"no unit row \(truncated export\?\): 111$"):
        docs(_usnvc_export(tmp_path, "truncated", {"unit": truncated}))

    out = tmp_path / "empty_out"
    metrics = write_documents(
        docs(_usnvc_export(tmp_path, "empty", {"unit": [], "unitDescription": []})), str(out / "docs")
    )
    lines = [ln for part in sorted((out / "docs").glob("part-*")) for ln in part.read_text().splitlines()]
    assert metrics["n_docs"] == 1 and len(lines) == 1
    root = json.loads(lines[0])
    assert root["row_id"] == "0" and root["source_data"]["children"] == []
    assert '"children":[]' in lines[0]
