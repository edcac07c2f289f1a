"""One-call training-corpus preparation: the composed product surface
a pretraining data engineer actually runs, chaining the individually
oracle-verified operators end-to-end:

    curate (quality -> exact dedup -> near dedup -> source quota)
      -> decontaminated train/eval split (GPT-3/Pile discipline)
        -> token-balanced shard packing
          -> sharded zstd parquet writer + JSON stats manifest

Every stage is the same code the per-operator queries verify (q174
curation gate, q187 decontamination, q197 shard packing), so the
composition inherits their correctness; what this module adds is the
wiring, the writer layout, and the manifest a training job consumes.

Scale posture: no stage introduces a new shuffle class, and the
manifest has no job of its own. Every token count is computed once,
by curate; the per-stage, split and shard counts are Observations on
two checkpoint jobs whose output the pipeline reads (the curation
audit and the labelled frame). The split is one shingle-keyed
semi-join; packing is the two-phase global rank; the writer partitions
by (split, shard) so a 1000-executor run writes all shards
concurrently.

Storage posture: the corpus is written once and read on every
training epoch, so the writer compresses its pages with zstd, not
Spark's default snappy. On the perfbench corpus that writes ~0.25
bytes per input byte where snappy wrote ~0.38: about a third fewer
bytes for the same rows. Rewriting 4.6 MB (snappy) of sf0.1 documents
on 4 vCPUs, zstd took 0.24 s, snappy 0.22 s and gzip 0.44 s; gzip
wrote ~8% fewer bytes there and the same as zstd on perfbench.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from pipeline_usnvc_spark.functions.text import doc_fingerprint, tokens, word_shingles
from pipeline_usnvc_spark.operators.checkpoint import materialize
from pipeline_usnvc_spark.operators.dedup_pipeline import curate
from pipeline_usnvc_spark.operators.rank import with_global_rank

# Page codec of the train shards and the eval split (see "Storage
# posture" above). Set on the two writes, not the session:
# layout.compact_small_files sizes its output from bytes on disk.
_CODEC = "zstd"
_STAGES = ("quality", "exact_dup", "near_dup", "quota", "kept")
_SPLITS = ("train", "eval", "dropped_contaminated")


def _split_bucket(text_col: str) -> Column:
    """Deterministic split bucket in [0, 100): md5 of the normalized
    document fingerprint (the q187 expression)."""
    digest = F.substring(F.md5(doc_fingerprint(text_col)), 1, 8)
    return F.conv(digest, 16, 10).cast("bigint") % 100


def decontaminated_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_pct: int = 20,
    shingle_n: int = 3,
    bucket_col: str | None = None,
) -> DataFrame:
    """(id, split) with split ∈ train | eval | dropped_contaminated:
    deterministic md5 bucket split, then drop any train document
    sharing ≥1 distinct n-gram shingle with the eval set (the q187
    transform as a reusable operator — one shingle-keyed semi-join,
    no pairwise work). Production uses n=13; the plan is identical.

    ``bucket_col`` names a PRECOMPUTED ``_split_bucket`` column —
    callers that already paid the fingerprint map pass
    (label_and_shard's kept frame) pass it so the split does not
    re-run it over the full text."""
    bucket = F.col(bucket_col) if bucket_col else _split_bucket(text_col)
    bucketed = docs.select(F.col(id_col), F.col(text_col), bucket.alias("bucket"))
    sh = bucketed.select(
        id_col,
        "bucket",
        F.explode(F.array_distinct(word_shingles(tokens(text_col), n=shingle_n))).alias(
            "shingle"
        ),
    )
    cut = 100 - eval_pct
    eval_sh = sh.filter(F.col("bucket") >= cut).select("shingle").distinct()
    contaminated = (
        sh.filter(F.col("bucket") < cut)
        .join(eval_sh, "shingle", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("_c", F.lit(True))
    )
    return (
        bucketed.select(id_col, "bucket")
        .join(contaminated, id_col, "left")
        .select(
            id_col,
            F.when(F.col("bucket") >= cut, F.lit("eval"))
            .when(F.col("_c").isNotNull(), F.lit("dropped_contaminated"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


def label_and_shard(
    docs: DataFrame,
    audit: DataFrame,
    n_shards: int = 8,
    eval_pct: int = 20,
    include_text: bool = True,
) -> DataFrame:
    """The pipeline's logical plan without the writer: every KEPT
    document labelled (doc_id, text, source, n_tokens, split, shard)
    — shard assigned only to train rows (token-balanced round-robin
    via the two-phase global rank), null for eval/contaminated.
    SQL-expressible end-to-end, so q206 oracle-verifies this exact
    composition. ``audit`` is ``curate(docs, ...)``: the caller picks
    the curation settings, and ``n_tokens`` comes from it.

    ``include_text=False`` drops the text column from the output (same
    rows, same remaining columns): metadata-only consumers (q206) skip
    the final text re-attachment join entirely.

    r14 reshape (guide §2.3 — shuffle keys and metadata, not
    payloads): the rank/union spine runs on a ~40 B/row doc-grain
    frame. Previously ``labelled`` and the rank checkpoint BOTH stored
    the full text column and the range exchange shuffled it — three
    corpus-sized text copies where the shard decision only needs
    (doc_id, n_tokens). Text is now stored once (kept) and re-attached
    to the decided rows by ONE doc_id join (doc_id is the established
    PK of documents — the join is row-preserving)."""
    # NOTE (ADVICE r05): materialize() is an EAGER localCheckpoint, so
    # building this plan triggers Spark jobs and pins blocks for the
    # session. That is deliberate — every runtime consumer (q206,
    # prepare_training_data, bench) needs the cut or the curation gate
    # re-executes up to 4x. Plan-shape-only consumers (EXPLAIN
    # tooling, plan tests) use the repo's stub-materialize convention
    # instead: monkeypatch operators.checkpoint.materialize to
    # identity (see tests/test_plans.py), paying zero execution.
    #
    # kept feeds the decontamination split (shingle explode), the slim
    # metadata spine, and the final text join: one checkpoint stops
    # the multi-stage curation gate from re-executing for each
    # consumer. The split bucket is computed HERE, in the one map pass
    # over kept text — decontaminated_split reads it instead of
    # re-running the fingerprint over the full text.
    kept = materialize(
        docs.join(audit.select("doc_id", "drop_stage", "n_tokens"), "doc_id")
        .filter(F.col("drop_stage") == "kept")
        .select(
            "doc_id",
            "text",
            "source",
            "n_tokens",
            _split_bucket("text").alias("_bucket"),
        )
    )
    split = decontaminated_split(kept, eval_pct=eval_pct, bucket_col="_bucket")
    # labelled feeds BOTH the train branch (rank + shard) and the rest
    # branch of the union: materialize once, or the split join
    # executes twice (measured: 20 parquet scans, zero ReusedExchange,
    # before these two cuts; 11.2 s -> 7.4 s at sf0.1).
    labelled = materialize(
        kept.select("doc_id", "source", "n_tokens").join(split, "doc_id")
    )
    train = labelled.filter(F.col("split") == "train")
    ranked = with_global_rank(train, F.desc("n_tokens"), "doc_id", rank_col="_rn")
    sharded = ranked.withColumn(
        "shard", ((F.col("_rn") - 1) % n_shards).cast("int")
    ).drop("_rn")
    rest = labelled.filter(F.col("split") != "train").withColumn(
        "shard", F.lit(None).cast("int")
    )
    decided = sharded.unionByName(rest)
    if not include_text:
        return decided
    return decided.join(kept.select("doc_id", "text"), "doc_id").select(
        "doc_id", "text", "source", "n_tokens", "split", "shard"
    )


def prepare_training_data(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    eval_pct: int = 20,
    **curate_kwargs,
) -> dict:
    """Run the full preparation pipeline and write the corpus.

    Layout::

        {out}/train/shard=K/*.parquet   (token-balanced shards, zstd)
        {out}/eval/*.parquet            (zstd)
        {out}/manifest.json             (stage/token accounting)

    Returns the manifest dict. Deterministic end-to-end (md5 orders,
    no RNG): re-running on the same input writes identical content.
    """
    # The per-stage docs and tokens ride the audit's checkpoint job.
    stage_obs = Observation("stages")
    audit = materialize(
        curate(docs, **curate_kwargs).observe(
            stage_obs, *_docs_and_tokens("drop_stage", _STAGES)
        )
    )
    # The split and shard counts ride the labelled checkpoint job. The
    # split counts cannot come from the writes: dropped_contaminated
    # rows are never written.
    label_obs = Observation("labels")
    labelled = materialize(  # two writes reuse one run
        label_and_shard(docs, audit, n_shards=n_shards, eval_pct=eval_pct).observe(
            label_obs,
            *(F.count(F.when(F.col("split") == s, 1)).alias(s) for s in _SPLITS),
            *_docs_and_tokens("shard", range(n_shards)),
        )
    )

    sharded = labelled.filter(F.col("split") == "train").drop("split")
    evald = labelled.filter(F.col("split") == "eval").drop("split", "shard")

    sharded.write.partitionBy("shard").mode("overwrite").parquet(
        f"{out_dir}/train", compression=_CODEC
    )
    evald.write.mode("overwrite").parquet(f"{out_dir}/eval", compression=_CODEC)

    stages, labels = stage_obs.get, label_obs.get
    stage_stats = _docs_and_tokens_stats(stages, _STAGES)
    shard_stats = _docs_and_tokens_stats(labels, range(n_shards))
    split_stats = {s: labels[s] for s in _SPLITS if labels[s] > 0}

    manifest = {
        "input_docs": sum(v["docs"] for v in stage_stats.values()),
        "stages": stage_stats,
        "split": split_stats,
        "train_shards": shard_stats,
        "eval_docs": split_stats.get("eval", 0),
        "n_shards": n_shards,
        "eval_pct": eval_pct,
    }
    _write_text(
        docs.sparkSession,
        f"{out_dir}/manifest.json",
        json.dumps(manifest, indent=2, sort_keys=True),
    )
    return manifest


def _docs_and_tokens(key_col: str, keys) -> list[Column]:
    """Observed metrics per key of ``key_col``: its row count
    ``docs_<key>`` and its ``n_tokens`` sum ``tokens_<key>``."""
    return [
        agg
        for k in keys
        for agg in (
            F.count(F.when(F.col(key_col) == k, 1)).alias(f"docs_{k}"),
            F.sum(F.when(F.col(key_col) == k, F.col("n_tokens"))).alias(f"tokens_{k}"),
        )
    ]


def _docs_and_tokens_stats(metrics: dict, keys) -> dict:
    """``{key: {"docs", "tokens"}}`` for every key with a row, as a
    ``groupBy(key)`` gives it (a NULL sum stays None)."""
    return {
        k: {"docs": metrics[f"docs_{k}"], "tokens": metrics[f"tokens_{k}"]}
        for k in keys
        if metrics[f"docs_{k}"] > 0
    }


def _write_text(spark, path: str, content: str) -> None:
    """Write a small text file through the Hadoop FileSystem API so
    the manifest lands NEXT TO the data on any scheme the writers use
    (hdfs://, s3a://, file:), not on the driver's local disk — a
    driver-local open() on an s3a:// out_dir would create a literal
    './s3a:' directory and strand the manifest."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
