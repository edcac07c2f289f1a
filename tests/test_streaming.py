"""Streaming surface tests: windowed-agg batch equivalence is covered
by the q80 oracle; here the custom stateful sessionizer is checked
against the batch sessionization on the same data."""

from __future__ import annotations

import pytest

# Streaming tier: multi-batch / checkpoint-recovery stress (full gate only; the registry rows-only replay still runs every streaming query in the inner loop).
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F


def test_stateful_sessionize_matches_batch(spark, sf_dir):
    from pipeline_usnvc_spark.plans import QUERIES
    from pipeline_usnvc_spark.streaming.pipeline import read_event_stream, run_stream_to_memory
    from pipeline_usnvc_spark.streaming.stateful import streaming_sessionize

    stream = read_event_stream(spark, sf_dir)
    emitted = run_stream_to_memory(
        streaming_sessionize(stream), "stateful_sessions", output_mode="append"
    ).collect()

    batch = QUERIES["q40_sessionize"](spark, sf_dir).collect()
    # The stream only emits CLOSED sessions: batch minus each user's
    # final (still-open-at-drain) session.
    last_sid = {}
    for r in batch:
        last_sid[r["user_id"]] = max(last_sid.get(r["user_id"], 0), r["session_idx"])
    expected = {
        (r["user_id"], r["session_idx"], r["n_events"], r["session_start"], r["session_end"])
        for r in batch
        if r["session_idx"] != last_sid[r["user_id"]]
    }
    got = {
        (r["user_id"], r["session_idx"], r["n_events"], r["session_start"], r["session_end"])
        for r in emitted
    }
    assert got == expected
    assert len(got) > 0


def test_ivm_stream_equals_batch_recompute(spark, sf_dir):
    """The q82 contract run directly: incremental upserts across
    micro-batches produce exactly the batch argmax state."""
    from pipeline_usnvc_spark.plans import QUERIES
    from pipeline_usnvc_spark.sources.tables import load_table
    from pipeline_usnvc_spark.streaming.ivm import batch_latest_state

    state = QUERIES["q82_incremental_upsert"](spark, sf_dir)
    expected = batch_latest_state(
        load_table(spark, sf_dir, "events"), "user_id", ["ts", "event_id"]
    )
    got = sorted(map(tuple, state.select(sorted(state.columns)).collect()))
    want = sorted(map(tuple, expected.select(sorted(expected.columns)).collect()))
    assert got == want
    assert len(got) > 0


def test_ivm_partial_bucket_rewrite(spark, sf_dir, tmp_path):
    """Bucket-aligned batches must rewrite only their own buckets: the
    manifest ends up pointing different buckets at different epochs."""
    import json

    from pyspark.sql import functions as F
    from pipeline_usnvc_spark.sources.tables import load_table
    from pipeline_usnvc_spark.streaming.ivm import LatestStateStore, batch_latest_state

    events = load_table(spark, sf_dir, "events")
    store = LatestStateStore(str(tmp_path / "state"), "user_id", ["ts", "event_id"], n_buckets=8)
    bucket = F.pmod(F.xxhash64(F.col("user_id")), F.lit(8)).cast("int")
    # epoch 0: all buckets; epoch 1: only buckets 0-3; epoch 2: only bucket 0
    store.upsert(events.filter(F.col("event_id") % 2 == 0), epoch_id=0)
    store.upsert(
        events.filter((F.col("event_id") % 2 == 1) & (bucket <= 3)), epoch_id=1
    )
    store.upsert(
        events.filter((F.col("event_id") % 2 == 1) & (bucket == 0)), epoch_id=2
    )
    manifest = json.loads((tmp_path / "state" / "_MANIFEST.json").read_text())
    assert manifest["0"] == "epoch=2"
    assert all(manifest[str(b)] == "epoch=1" for b in (1, 2, 3))
    assert all(manifest[str(b)] == "epoch=0" for b in (4, 5, 6, 7))
    # and the merged view is still exactly the batch recompute over
    # everything that was ever upserted
    upserted = events.filter(
        (F.col("event_id") % 2 == 0) | (bucket <= 3)
    )
    expected = batch_latest_state(upserted, "user_id", ["ts", "event_id"])
    state = store.read_state(spark)
    got = sorted(map(tuple, state.select(sorted(state.columns)).collect()))
    want = sorted(map(tuple, expected.select(sorted(expected.columns)).collect()))
    assert got == want


def test_dedup_within_watermark_matches_batch_distinct(spark, sf_dir):
    """Duplicated stream (every event sent twice) deduped on event_id
    with watermark-bounded state == batch distinct, since all
    duplicates here arrive within the watermark."""
    from pipeline_usnvc_spark.sources.tables import load_table
    from pipeline_usnvc_spark.streaming.pipeline import (
        read_event_stream,
        run_stream_to_memory,
        streaming_dedup_within_watermark,
    )

    stream = read_event_stream(spark, sf_dir)
    doubled = stream.union(stream)
    out = run_stream_to_memory(
        streaming_dedup_within_watermark(doubled, ["event_id"], watermark="1 hour"),
        "stream_dedup_wm",
        output_mode="append",
    )
    n_batch = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert out.select("event_id").distinct().count() == n_batch
    assert out.count() == n_batch


def test_streaming_session_window_matches_batch(spark, sf_dir):
    """Native session_window in a streaming aggregation (with
    watermark) emits the same closed sessions as the batch q103 —
    modulo each user's final session, which stays open at drain."""
    from pipeline_usnvc_spark.plans import QUERIES
    from pipeline_usnvc_spark.streaming.pipeline import read_event_stream, run_stream_to_memory

    stream = read_event_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    emitted = run_stream_to_memory(agg, "native_sessions", output_mode="append").collect()
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in emitted
    }
    batch = QUERIES["q103_native_session_window"](spark, sf_dir).collect()
    last_end = {}
    for r in batch:
        u = r["user_id"]
        if u not in last_end or r["session_end"] > last_end[u]:
            last_end[u] = r["session_end"]
    expected_closed = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch
        if r["session_end"] != last_end[r["user_id"]]
    }
    # append mode emits only watermark-closed windows; everything it
    # emits must be a real batch session, and it must cover all but
    # the final (open) session of each user
    assert got <= {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"]) for r in batch
    }
    assert expected_closed <= got
    assert len(got) > 0


def test_streaming_term_counts_match_batch(spark, sf_dir):
    """Running stateful term totals after draining the stream equal a
    batch groupBy count over the same corpus."""
    from pipeline_usnvc_spark.functions.text import tokens
    from pipeline_usnvc_spark.streaming.pipeline import run_stream_to_memory
    from pipeline_usnvc_spark.streaming.stateful import streaming_term_counts

    docs_stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    emitted = run_stream_to_memory(
        streaming_term_counts(docs_stream), "term_counts", output_mode="update"
    ).collect()
    # update mode may emit a term several times across batches: the
    # LAST total per term is the running value
    final = {}
    for r in emitted:
        final[r["term"]] = r["total"]

    batch = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .count()
    )
    want = {r["term"]: r["count"] for r in batch.collect()}
    assert final == want
    # deltas within one drained run sum to the totals
    assert sum(r["batch_delta"] for r in emitted) == sum(want.values())


def test_rocksdb_state_store_backend(spark, sf_dir, tmp_path):
    """The production state backend: the watermarked dedup runs on the
    RocksDB state store provider with identical results — proving the
    scale-grade backend works, not just the default HDFS-backed one."""
    from pipeline_usnvc_spark.streaming.pipeline import (
        read_event_stream,
        streaming_dedup_within_watermark,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_event_stream(spark, sf_dir)
        doubled = stream.union(stream)
        q = (
            streaming_dedup_within_watermark(doubled, ["event_id"], watermark="1 hour")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("rocksdb_dedup")
            .option("checkpointLocation", str(tmp_path / "ckpt_rocks"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.table("rocksdb_dedup")
        n_batch = (
            spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id").distinct().count()
        )
        assert out.count() == n_batch
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_checkpoint_recovery_across_restart(spark, tmp_path):
    """Stop a file-source stream mid-input and restart from the SAME
    checkpoint: the union of outputs equals exactly one emission per
    input row (no loss, no duplicates) — the recovery contract the
    per-epoch idempotent sinks rely on."""
    import json

    src = tmp_path / "src"
    src.mkdir()
    out = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt")

    def write_batch(i):
        spark.createDataFrame(
            [(i * 10 + j, f"msg{i*10+j}") for j in range(10)], "id bigint, msg string"
        ).coalesce(1).write.mode("append").parquet(str(src))

    def run_once():
        stream = (
            spark.readStream.schema("id bigint, msg string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = (
            stream.writeStream.format("json")
            .option("path", str(out))
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write_batch(0)
    write_batch(1)
    run_once()           # processes both files, then "crashes" (stop)
    write_batch(2)       # arrives while down
    run_once()           # restart from the same checkpoint

    rows = []
    for p in out.rglob("part-*.json"):
        rows += [json.loads(l) for l in p.read_text().splitlines() if l]
    ids = sorted(r["id"] for r in rows)
    assert ids == list(range(10)) + list(range(10, 20)) + list(range(20, 30))


def test_band_signatures_mapside_match_batch(spark, sf_dir):
    """The zero-keyed-shuffle banding must equal an INDEPENDENT
    reference formulation — the explode + groupBy(id, band) concat
    that lsh_candidate_pairs used before it was rebuilt on the
    map-side builder (reconstructed here so the equivalence check
    does not compare the function against itself — the r4 review
    caught the tautology when both sides shared one code path)."""
    from pipeline_usnvc_spark.operators.dedup import (
        band_signatures_mapside,
        minhash_signatures,
    )
    from pipeline_usnvc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = band_signatures_mapside(docs)
    # no KEYED shuffle — the only allowed exchange is _spread()'s
    # round-robin parallelism repartition (batch-only convenience).
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    mapside = {
        (r["doc_id"], r["band"], r["band_sig"]) for r in sigs.collect()
    }
    # Independent reference: the historical exploded+grouped banding.
    rows_per_band = 8 // 2
    ref = (
        minhash_signatures(docs)
        .withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seed", "minhash"))),
                    lambda s: s["minhash"],
                ),
            ).alias("band_sig")
        )
    )
    reference = {(r["doc_id"], r["band"], r["band_sig"]) for r in ref.collect()}
    assert mapside == reference and mapside


def test_band_signatures_mapside_drops_short_docs(spark):
    """Docs with < shingle_n tokens emit NO band signature — a
    deliberate semantic (ADVICE r04): the legacy banding inside
    lsh_candidate_pairs grouped all such degenerate docs under one
    empty-string band signature, mutually pairing every short doc
    (quadratic noise on a corpus with many near-empty rows). The
    map-side builder instead drops them (null minhash filter), which
    is the semantics we pin here."""
    from pipeline_usnvc_spark.operators.dedup import band_signatures_mapside

    docs = spark.createDataFrame(
        [
            (1, "only two"),               # 2 tokens < shingle_n=3 → dropped
            (2, "one"),                    # 1 token → dropped
            (3, ""),                       # empty → dropped
            (4, "three whole tokens here"),  # 4 tokens → banded
        ],
        "doc_id int, text string",
    )
    sigs = band_signatures_mapside(docs)
    rows = sigs.collect()
    assert {r["doc_id"] for r in rows} == {4}
    # and the surviving doc gets exactly one signature per band
    assert sorted(r["band"] for r in rows) == [0, 1]
    assert all(r["band_sig"] for r in rows)


def test_streaming_neardup_matches_batch_across_batches(spark, sf_dir, tmp_path):
    """The stateful band index must find the SAME candidate pairs as
    batch LSH even when the corpus arrives in two separate micro-
    batches — cross-batch pairs exist only if state carries bucket
    membership between triggers."""
    from pipeline_usnvc_spark.operators.dedup import lsh_candidate_pairs
    from pipeline_usnvc_spark.sources.tables import load_table
    from pipeline_usnvc_spark.streaming.stateful import streaming_neardup

    docs = load_table(spark, sf_dir, "documents")
    # Interleave by parity so near-dup pairs straddle the two files.
    stream_dir = tmp_path / "docs_stream"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(stream_dir / "p0")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(stream_dir / "p1")
    )
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(stream_dir) + "/*")
    )
    q = (
        streaming_neardup(stream)
        .writeStream.format("memory")
        .queryName("neardup_stream")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.sql("SELECT DISTINCT id_a, id_b FROM neardup_stream").collect()
    }
    want = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(docs).collect()}
    assert want, "fixture should produce candidate pairs"
    assert got == want


# ---------------------------------------------------------------------------
# Round-6 in-plan batch-equivalence audits (VERDICT r05 item 2): the
# rows-only streaming queries now OUTPUT the audit grain with an
# executed contract. Pin clean-path grain + that a poisoned stream
# side trips the contract.
# ---------------------------------------------------------------------------
def test_q81_audit_grain_and_clean_pass(spark, sf_dir):
    from pipeline_usnvc_spark.plans import QUERIES

    out = QUERIES["q81_stateful_sessionize"](spark, sf_dir)
    batch = QUERIES["q40_sessionize"](spark, sf_dir).collect()
    last = {}
    for r in batch:
        last[r["user_id"]] = max(last.get(r["user_id"], 0), r["session_idx"])
    n_closed = sum(1 for r in batch if r["session_idx"] != last[r["user_id"]])
    assert out.count() == n_closed > 0


def test_q83_audit_grain_and_clean_pass(spark, sf_dir):
    from pipeline_usnvc_spark.plans import QUERIES
    from pipeline_usnvc_spark.sources.tables import load_table

    out = QUERIES["q83_stream_dedup_watermark"](spark, sf_dir)
    n_ids = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    rows = out.collect()
    assert len(rows) == n_ids
    assert all(r["n_copies"] == 1 for r in rows)


def test_q179_audit_grain_and_clean_pass(spark, sf_dir):
    from pipeline_usnvc_spark.functions.text import tokens as tokenize
    from pipeline_usnvc_spark.plans import QUERIES
    from pipeline_usnvc_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    out = QUERIES["q179_streaming_term_counts"](spark, sf_dir)
    n_terms = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokenize("text")).alias("t"))
        .select("t")
        .distinct()
        .count()
    )
    rows = out.collect()
    assert len(rows) == n_terms
    assert all(r["total"] == r["batch_n"] for r in rows)


def test_q83_contract_fires_on_surviving_duplicate(spark, sf_dir, monkeypatch):
    """Poison the dedup to a no-op: doubled ids survive twice and the
    executed audit must raise, not shrug."""
    import pipeline_usnvc_spark.streaming.pipeline as sp
    from pipeline_usnvc_spark.plans import QUERIES

    monkeypatch.setattr(
        sp, "streaming_dedup_within_watermark", lambda df, keys, watermark: df
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="stream dedup mismatch"):
        QUERIES["q83_stream_dedup_watermark"](spark, sf_dir).count()


def test_q337_outer_join_audit_clean_and_fires(spark, sf_dir, monkeypatch):
    """The stream-stream LEFT OUTER join audit passes clean (matched
    pairs + exactly the watermark-certified null emissions), and
    poisoning the join to inner makes the missing null emissions
    trip the executed contract."""
    from pipeline_usnvc_spark.plans import QUERIES

    rows = QUERIES["q337_stream_outer_join"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert any(r["purchase_id"] is None for r in rows), "no null-extended clicks"

    import pipeline_usnvc_spark.streaming.pipeline as sp

    outer = sp.stream_stream_left_outer_join
    monkeypatch.setattr(
        sp,
        "stream_stream_left_outer_join",
        lambda ev, window="30 minutes", watermark="1 hour": outer(
            ev, window, watermark
        ).filter("purchase_id IS NOT NULL"),
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="stream-outer-join mismatch"):
        QUERIES["q337_stream_outer_join"](spark, sf_dir).count()


def test_stream_session_window_matches_certified_batch(spark, sf_dir):
    """q361: the emitted session count must equal the batch sessions
    whose windows provably closed before the final watermark, and
    every emitted session must carry the exact batch aggregates (the
    in-plan contract asserts per-row equality; this pins the COUNT so
    an empty-stream vacuity can never slip through)."""
    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.plans import QUERIES
    from pipeline_usnvc_spark.sources.tables import load_table

    got = QUERIES["q361_stream_session_window"](spark, sf_dir)
    n_emitted = got.count()
    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 1 hour")).alias("wm")).collect()[0]["wm"]
    certified = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("w.end") < F.lit(wm))
        .count()
    )
    assert n_emitted == certified, (n_emitted, certified)
    assert n_emitted > 0
