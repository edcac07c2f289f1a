"""End-to-end composed pipeline test: prepare_training_data chains the
oracle-verified operators (curate -> decontaminate -> shard-pack ->
write) and the outputs must reconcile exactly."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from pipeline_usnvc_spark.sources.tables import load_table


def test_prepare_training_data_end_to_end(spark, sf_dir, tmp_path):
    from pipeline_usnvc_spark.pipelines import prepare_training_data

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "corpus")
    manifest = prepare_training_data(docs, out, n_shards=4)

    # 1. accounting closes: every input doc lands in exactly one stage
    assert manifest["input_docs"] == docs.count()
    assert sum(v["docs"] for v in manifest["stages"].values()) == manifest["input_docs"]
    kept = manifest["stages"]["kept"]["docs"]
    assert kept == sum(manifest["split"].values())

    # 2. written corpus matches the manifest
    train = spark.read.parquet(f"{out}/train")
    evald = spark.read.parquet(f"{out}/eval")
    assert train.count() == manifest["split"].get("train", 0)
    assert evald.count() == manifest["split"].get("eval", 0)

    # 3. train/eval disjoint; contaminated docs in neither
    t_ids = {r["doc_id"] for r in train.select("doc_id").collect()}
    e_ids = {r["doc_id"] for r in evald.select("doc_id").collect()}
    assert not (t_ids & e_ids)
    assert len(t_ids) + len(e_ids) + manifest["split"].get(
        "dropped_contaminated", 0
    ) == kept

    # 4. shards are token-balanced: round-robin by size-desc rank
    #    bounds the spread by the largest document
    loads = [v["tokens"] for v in manifest["train_shards"].values()]
    if loads and min(loads) > 0:
        max_doc = train.agg(F.max("n_tokens")).first()[0]
        assert max(loads) - min(loads) <= max_doc

    # 5. manifest file round-trips
    on_disk = json.loads((tmp_path / "corpus" / "manifest.json").read_text())
    assert on_disk["split"] == {k: v for k, v in manifest["split"].items()}

    # 6. deterministic: a second run writes the identical manifest
    out2 = str(tmp_path / "corpus2")
    manifest2 = prepare_training_data(docs, out2, n_shards=4)
    assert manifest2 == manifest


def test_prepare_degenerate_inputs(spark, tmp_path):
    """Empty corpus and all-duplicates corpus must not crash the
    composed pipeline; accounting still closes."""
    from pipeline_usnvc_spark.pipelines import prepare_training_data

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    empty = spark.createDataFrame([], schema)
    m = prepare_training_data(empty, str(tmp_path / "empty"), n_shards=2)
    assert m["input_docs"] == 0 and m["train_shards"] == {}

    dupe_text = "alpha beta gamma delta " * 10
    dupes = spark.createDataFrame(
        [(i, dupe_text, "en", "s0", len(dupe_text)) for i in range(20)], schema
    )
    m2 = prepare_training_data(dupes, str(tmp_path / "dupes"), n_shards=2)
    assert m2["input_docs"] == 20
    assert sum(v["docs"] for v in m2["stages"].values()) == 20
    # exactly one survivor of the duplicate class passes the exact gate
    assert m2["stages"].get("exact_dup", {}).get("docs", 0) == 19


_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _corpus(spark, sf_dir, kind):
    if kind == "fixture":
        return load_table(spark, sf_dir, "documents")
    if kind == "empty":
        return spark.createDataFrame([], _SCHEMA)
    text = "alpha beta gamma delta " * 10
    return spark.createDataFrame(
        [(i, text, "en", "s0", len(text)) for i in range(20)], _SCHEMA
    )


def _docs_and_tokens(df, key, tokens="n_tokens"):
    return {
        r[key]: {"docs": r["docs"], "tokens": r["tokens"]}
        for r in df.groupBy(key)
        .agg(F.count("*").alias("docs"), F.sum(tokens).alias("tokens"))
        .collect()
    }


@pytest.mark.parametrize("kind", ["fixture", "empty", "dupes"])
def test_observed_manifest_matches_recompute(spark, sf_dir, tmp_path, kind):
    """The manifest read off the pipeline's Observations equals
    independent groupBy recomputes: stages from curate joined to a
    fresh token count, the split from label_and_shard, and the train
    shards from both label_and_shard and the written train/ files."""
    from pipeline_usnvc_spark.functions.text import token_count
    from pipeline_usnvc_spark.operators.dedup_pipeline import curate
    from pipeline_usnvc_spark.pipelines import prepare_training_data
    from pipeline_usnvc_spark.pipelines.prepare import label_and_shard

    docs = _corpus(spark, sf_dir, kind)
    out = tmp_path / "corpus"
    manifest = prepare_training_data(docs, str(out), n_shards=4)

    audit = curate(docs).select("doc_id", "drop_stage")
    sized = audit.join(docs.select("doc_id", token_count("text").alias("tok")), "doc_id")
    assert manifest["stages"] == _docs_and_tokens(sized, "drop_stage", "tok")
    assert manifest["input_docs"] == docs.count()

    labelled = label_and_shard(docs, curate(docs), n_shards=4, include_text=False)
    split = {r["split"]: r["count"] for r in labelled.groupBy("split").count().collect()}
    assert manifest["split"] == split
    assert manifest["eval_docs"] == split.get("eval", 0)
    train = labelled.filter(F.col("split") == "train")
    assert manifest["train_shards"] == _docs_and_tokens(train, "shard")
    written = spark.read.schema(
        "doc_id bigint, text string, source string, n_tokens bigint, shard int"
    ).parquet(str(out / "train"))
    assert manifest["train_shards"] == _docs_and_tokens(written, "shard")

    on_disk = json.loads((out / "manifest.json").read_text())
    assert on_disk == json.loads(json.dumps(manifest))


def test_prepare_runs_no_driver_collect(spark, sf_dir, tmp_path, monkeypatch):
    """Every manifest count rides a job the pipeline runs anyway: no
    DataFrame.collect (nor take/first/head, which go through it) runs
    while prepare_training_data does."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from pipeline_usnvc_spark.pipelines import prepare_training_data

    docs = load_table(spark, sf_dir, "documents")

    def refuse(self):
        raise AssertionError("DataFrame.collect() inside prepare_training_data")

    monkeypatch.setattr(ClassicDataFrame, "collect", refuse)
    manifest = prepare_training_data(docs, str(tmp_path / "corpus"), n_shards=4)
    monkeypatch.undo()
    assert manifest["input_docs"] == docs.count()
