"""Source/format widening: the custom Python DataSource (Spark 4
``pyspark.sql.datasource`` API), ORC roundtrip, and the binaryFile
source feeding the multimodal plumbing."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _make_corpus(tmp_path, texts):
    d = tmp_path / "corpus"
    (d / "sub").mkdir(parents=True)
    paths = []
    for i, txt in enumerate(texts):
        p = (d / "sub" / f"doc{i}.txt") if i % 2 else (d / f"doc{i}.txt")
        p.write_text(txt)
        paths.append(str(p))
    (d / "ignored.bin").write_text("x")
    return str(d)


def test_textcorpus_datasource_reads_tree(spark, tmp_path):
    from pipeline_usnvc_spark.sources.corpus_source import TextCorpusDataSource

    spark.dataSource.register(TextCorpusDataSource)
    d = _make_corpus(tmp_path, ["hello world", "foo bar baz", "third doc here"])
    df = (
        spark.read.format("textcorpus")
        .option("path", d)
        .option("partitions", "2")
        .load()
    )
    rows = sorted(df.collect(), key=lambda r: r["doc_id"])
    assert [r["doc_id"] for r in rows] == [0, 1, 2]
    assert all(r["n_chars"] == len(r["text"]) for r in rows)
    # stable ids: sorted-path order, independent of partition count
    df1 = (
        spark.read.format("textcorpus")
        .option("path", d)
        .option("partitions", "1")
        .load()
    )
    assert {(r["doc_id"], r["path"]) for r in df1.collect()} == {
        (r["doc_id"], r["path"]) for r in rows
    }
    # composes with the engine: fingerprints computable straight off it
    from pipeline_usnvc_spark.functions.text import doc_fingerprint

    assert df.select(doc_fingerprint("text")).distinct().count() == 3


def test_textcorpus_requires_path(spark):
    from pipeline_usnvc_spark.sources.corpus_source import TextCorpusDataSource

    spark.dataSource.register(TextCorpusDataSource)
    import pytest

    with pytest.raises(Exception, match="path"):
        spark.read.format("textcorpus").load().collect()


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


def test_textcorpus_streaming_tails_directory(spark, tmp_path):
    """Spark 4 SimpleDataSourceStreamReader: files dropped into the
    tree between microbatches arrive exactly once, with the same
    sorted-order doc_ids the batch reader assigns."""
    from pipeline_usnvc_spark.sources.corpus_source import TextCorpusDataSource

    spark.dataSource.register(TextCorpusDataSource)
    d = tmp_path / "tail"
    d.mkdir()
    (d / "a.txt").write_text("first doc")
    (d / "b.txt").write_text("second doc")

    stream = spark.readStream.format("textcorpus").option("path", str(d)).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("corpus_tail")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {r["path"]: r["doc_id"] for r in spark.table("corpus_tail").collect()}
        assert got1 == {str(d / "a.txt"): 0, str(d / "b.txt"): 1}

        # drop a new file AFTER the tail: next batch emits only it
        (d / "c.txt").write_text("third doc arrives later")
        q.processAllAvailable()
        rows = spark.table("corpus_tail").collect()
        assert len(rows) == 3  # a and b are NOT re-emitted
        got2 = {r["path"]: (r["doc_id"], r["n_chars"]) for r in rows}
        assert got2[str(d / "c.txt")] == (2, len("third doc arrives later"))

        # OUT-OF-ORDER arrival: a name sorting BEFORE every processed
        # file must still emit exactly once (positional offsets would
        # re-emit c.txt and skip this one forever)
        (d / "0early.txt").write_text("late arrival, early name")
        q.processAllAvailable()
        rows = spark.table("corpus_tail").collect()
        assert len(rows) == 4
        got3 = {r["path"]: r["doc_id"] for r in rows}
        assert got3[str(d / "0early.txt")] == 3  # next id, no renumbering
        assert sorted(got3.values()) == [0, 1, 2, 3]  # nothing re-emitted
    finally:
        q.stop()


def test_round10_source_guards(spark, tmp_path):
    """Regression batch for the round-10 sources/usnvc review:

    1. decode_kafka_envelope fails FAST on payload fields that would
       collide with its reserved metadata/corrupt columns (previously
       produced a duplicate-name frame that broke every downstream
       reference).
    2. the observed sink (write_documents) applies its `ok` contract: a
       null row_id previously serialized to the invalid JSON line
       '{"source_data": ..., }' and a null source_data wrote a blank
       line; both are now dropped while the metrics still count them.
    3. build_documents fails loudly on a dangling parent_id instead
       of shipping a document whose ancestors claim the root while
       its parent points at a missing unit (test_dangling_parent_fails_loudly).
    """
    import json

    import pytest

    from pipeline_usnvc_spark.sources.kafka import decode_kafka_envelope
    from pipeline_usnvc_spark.usnvc.ledger import write_documents

    raw = spark.createDataFrame(
        [(b"{}", "t", 0, 0, None)],
        "value binary, topic string, partition int, offset long, timestamp timestamp",
    )
    with pytest.raises(ValueError, match="kafka_topic"):
        decode_kafka_envelope(raw, "event_id bigint, kafka_topic string")
    with pytest.raises(ValueError, match="_corrupt_record"):
        decode_kafka_envelope(raw, "event_id bigint, _corrupt_record string")

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
