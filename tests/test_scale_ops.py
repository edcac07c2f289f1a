"""Skew/bucketing utilities: result-equivalence and layout assertions."""

from __future__ import annotations

import pytest

# Scale-stress tier: self-union / degenerate-input stress (full gate only; the oracle replay covers the same operators at sf0.001).
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from pipeline_usnvc_spark.operators.skew import salted_count, salted_join
from pipeline_usnvc_spark.sources.tables import load_table


def test_salted_count_equals_direct(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    direct = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    salted = {r["l_returnflag"]: r["n"] for r in salted_count(li, "l_returnflag").collect()}
    assert direct == salted


def test_salted_join_equals_direct(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    direct = li.join(orders, "l_orderkey").count()
    salted = salted_join(li, orders, "l_orderkey").count()
    assert direct == salted


def test_doc_pipeline_survives_parent_cycle(spark, tmp_path):
    # Corrupt data with a parent cycle would hang the reference's
    # while-loop walk (usnvc.py:511-515); the closure's depth bound
    # must keep the doc pipeline terminating and emitting every unit.
    import json

    from tests.usnvc_fixture import TABLES, write_fixture
    from pipeline_usnvc_spark.usnvc.ingest import build_silver, read_export
    from pipeline_usnvc_spark.usnvc.docs import build_documents

    export = write_fixture(tmp_path / "cyclic")
    unit_cols, unit_rows = TABLES["unit"]
    rows = [list(r) for r in unit_rows]
    for r in rows:
        if r[0] == "100":
            r[1] = "114"  # root 100 now points at its own descendant
    path = export / "unit.txt"
    path.write_text(
        "\n".join(["\t".join(unit_cols)] + ["\t".join(r) for r in rows]) + "\n",
        encoding="ISO-8859-1",
    )
    docs = build_documents(build_silver(read_export(spark, str(export))), "2026-01-01T00:00:00")
    rows_out = {r["row_id"]: json.loads(r["source_data"]) for r in docs.collect()}
    # every unit still emits exactly once; cyclic ancestors are bounded
    assert {k for k in rows_out if k != "0"} == {"100", "110", "111", "112", "113", "114", "200", "210"}
    assert len(rows_out["114"]["ancestors"]) <= 16 * 2


def test_jaccard_doc_freq_cap(spark, sf_dir):
    # a cap higher than any shingle's doc frequency is a no-op; a tiny
    # cap prunes candidates (the 100TB fan-out bound).
    from pipeline_usnvc_spark.operators.dedup import ngram_jaccard_pairs
    from pipeline_usnvc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, threshold=0.1)
    capped_loose = ngram_jaccard_pairs(docs, threshold=0.1, max_doc_freq=10_000_000)
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, capped_loose.collect()))
    capped_tight = ngram_jaccard_pairs(docs, threshold=0.1, max_doc_freq=1)
    assert capped_tight.count() <= exact.count()


def test_hierarchy_closure_cycle_safety(spark):
    # A cycle would hang the reference's while-loop; the closure's
    # max_depth bound must terminate and not blow up.
    from pipeline_usnvc_spark.operators.hierarchy import ancestors

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "id bigint, parent_id bigint"
    )
    out = ancestors(edges, "id", "parent_id", max_depth=10)
    assert out.count() == 30  # 3 nodes x 10 depths, bounded


def test_approx_percentiles_within_bound(spark, sf_dir):
    """Sketch quantiles land within 2% relative error of exact ones
    at accuracy=10000 on this data."""
    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.plans import QUERIES
    from pipeline_usnvc_spark.sources.tables import load_table

    approx = {
        (r["l_returnflag"], r["pct"]): r["approx_value"]
        for r in QUERIES["q85_approx_percentiles"](spark, sf_dir).collect()
    }
    exact = {}
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))").alias("qs"))
        .collect()
    ):
        for pct, v in zip((0.25, 0.5, 0.75, 0.95), r["qs"]):
            exact[(r["l_returnflag"], pct)] = v
    assert set(approx) == set(exact)
    for key, got in approx.items():
        want = exact[key]
        assert abs(got - want) / want < 0.02, (key, got, want)


def test_reliable_checkpoint_path(spark, tmp_path):
    """With a checkpoint dir configured, iterative operators use
    reliable checkpoint() (cluster fault-tolerance posture) and
    produce identical results."""
    from pipeline_usnvc_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src bigint, dst bigint"
    )
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)}
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        got = {
            (r["node"], r["component"])
            for r in connected_components(edges).collect()
        }
        # the reliable path actually wrote RDD checkpoint files
        assert any((tmp_path / "ckpt").rglob("*"))
    finally:
        # session is shared: restore localCheckpoint behavior
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert got == want


def test_global_rank_exact(spark):
    """Two-phase rank == single-partition row_number on a total order."""
    import random

    from pipeline_usnvc_spark.operators.rank import with_global_rank

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 1000)) for i in range(5000)]
    df = spark.createDataFrame(rows, "id bigint, v bigint")
    got = {
        r["id"]: r["rank"]
        for r in with_global_rank(df, "v", "id", num_partitions=16).collect()
    }
    want = {
        i: r + 1
        for r, (i, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert got == want


def test_skyline_edge_cases(spark):
    """Duplicate points, ties on one axis, single-point domination."""
    from pipeline_usnvc_spark.operators.skyline import skyline_2d

    pts = [
        (1.0, 10),  # skyline (cheapest)
        (1.0, 10),  # exact duplicate: still one skyline point
        (2.0, 5),   # skyline (tradeoff)
        (2.0, 7),   # dominated by (2.0, 5): tie on x, worse y
        (3.0, 5),   # dominated by (2.0, 5): tie on y, worse x
        (0.5, 20),  # skyline
        (4.0, 4),   # skyline
        (5.0, 9),   # dominated by (2.0, 5)
    ]
    df = spark.createDataFrame(pts, "x double, y int")
    got = {(r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect()}
    assert got == {(1.0, 10), (2.0, 5), (0.5, 20), (4.0, 4)}


def test_hll_sketches_merge_losslessly(spark, sf_dir):
    """Union of per-group sketches == one whole-table sketch (exact
    register equality ⇒ equal estimates), and estimates land within
    3% of exact distinct counts."""
    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.plans import QUERIES
    from pipeline_usnvc_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    merged = (
        ev.groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]["est"]
    )
    direct = ev.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")).collect()[0]["est"]
    assert merged == direct
    approx = {
        r["event_type"]: r["approx_users"]
        for r in QUERIES["q100_hll_mergeable_distinct"](spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(approx) == set(exact)
    for k in exact:
        assert abs(approx[k] - exact[k]) / exact[k] < 0.03, (k, approx[k], exact[k])


def test_pagerank_properties(spark):
    """Mass conservation (no dangling loss on this graph) and hub
    dominance on a constructed graph."""
    from pipeline_usnvc_spark.operators.graph import pagerank

    # star: everyone links to 0; 0 links back to 1
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    ranks = {r["node"]: r["rank"] for r in pagerank(df, iterations=20).collect()}
    # every node has out-degree >= 1 -> total mass == n nodes
    assert abs(sum(ranks.values()) - 6.0) < 1e-6
    assert ranks[0] == max(ranks.values())
    assert ranks[1] > ranks[2]  # 0's endorsement beats leaf baseline
    assert abs(ranks[2] - ranks[5]) < 1e-12  # symmetric leaves tie


def test_misra_gries_guarantee(spark, sf_dir):
    """MG contract: every token with true count > n/(k+1) appears in
    the sketch, and every estimate is a lower bound within n/(k+1) of
    the exact count."""
    from pipeline_usnvc_spark.functions.text import tokens
    from pipeline_usnvc_spark.operators.sketches import misra_gries_heavy_hitters

    k = 256
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    exact = {
        r["token"]: r["n"]
        for r in tok.groupBy("token").agg(F.count("*").alias("n")).collect()
    }
    n_total = sum(exact.values())
    bound = n_total / (k + 1)

    est = {
        r["token"]: r["est_count"]
        for r in misra_gries_heavy_hitters(tok, "token", k=k, top_n=20).collect()
    }
    assert est, "sketch returned no candidates"
    for t, e in est.items():
        assert e <= exact[t], f"{t}: estimate {e} above exact {exact[t]}"
        assert e >= exact[t] - bound, f"{t}: estimate {e} below bound"

    top_exact = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    must_appear = [t for t, c in top_exact if c > bound]
    missing = [t for t in must_appear if t not in est]
    assert not missing, f"guaranteed heavy hitters missing: {missing}"


def test_global_cumsum_exact(spark):
    """with_global_cumsum == driver-side sequential prefix sum, across
    many partitions, including negative values (partition totals must
    come from the values, not max of the running sum)."""
    from pipeline_usnvc_spark.operators.rank import with_global_cumsum

    vals = [(i, (7 * i) % 13 - 6) for i in range(500)]
    df = spark.createDataFrame(vals, "k long, v long").repartition(16)
    got = {
        r["k"]: r["cum"]
        for r in with_global_cumsum(df, "v", "k", cumsum_col="cum", num_partitions=8).collect()
    }
    run = 0
    for k, v in vals:
        run += v
        assert got[k] == run, f"k={k}: {got[k]} != {run}"


def test_cc_local_and_distributed_paths_agree(spark):
    """connected_components picks a driver union-find under the edge
    threshold; both paths must produce identical (node, min-id) labels
    — including chains (diameter > 1) and self-loops."""
    from pipeline_usnvc_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (10, 11), (11, 12), (20, 20), (7, 8)],
        "src bigint, dst bigint",
    )
    want = {
        (r["node"], r["component"])
        for r in connected_components(edges, local_threshold=0).collect()
    }
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges, local_threshold=10**6).collect()
    }
    assert got == want
    assert (5, 1) in got and (12, 10) in got and (20, 20) in got and (8, 7) in got


def test_kmeans_deterministic_and_descending(spark, sf_dir):
    # Lloyd's with lowest-id init must be run-to-run deterministic,
    # and within-cluster SSE must be non-increasing in the iteration
    # count (monotone descent is the algorithm's defining invariant).
    from pipeline_usnvc_spark.functions.vectors import to_double_array
    from pipeline_usnvc_spark.operators.similarity import (
        _nearest_centroid,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")

    def sse(iters: int) -> float:
        cents = kmeans_centroids(emb, k=8, iters=iters)
        v = to_double_array("embedding")
        dists = [
            F.aggregate(
                F.zip_with(v, F.array(*[F.lit(x) for x in c]), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in cents
        ]
        return emb.select(F.least(*dists).alias("d")).agg(F.sum("d")).collect()[0][0]

    s1, s2, s4 = sse(1), sse(2), sse(4)
    assert s1 >= s2 >= s4, (s1, s2, s4)

    a = kmeans_centroids(emb, k=8, iters=3)
    b = kmeans_centroids(emb, k=8, iters=3)
    assert a == b, "k-means must be deterministic (no RNG, fixed init)"


def test_count_min_guarantees(spark, sf_dir):
    # CM invariants: never under-estimates; overestimate bounded by
    # e/w * N with probability 1-(1/e)^d — deterministic hashes make
    # this reproducible, so assert the bound outright at test scale.
    import math

    from pipeline_usnvc_spark.plans import QUERIES

    pdf = QUERIES["q140_count_min"](spark, sf_dir).toPandas()
    assert len(pdf) > 0
    assert (pdf.cm_est >= pdf.true_cnt).all(), "CM must never underestimate"
    docs = load_table(spark, sf_dir, "documents")
    from pipeline_usnvc_spark.functions.text import tokens

    n_tokens = docs.select(F.explode(tokens("text")).alias("t")).count()
    bound = math.e / 1024 * n_tokens
    assert ((pdf.cm_est - pdf.true_cnt) <= bound).all(), (
        pdf.cm_est.max(),
        pdf.true_cnt.max(),
        bound,
    )


def test_count_min_sketches_merge_additively(spark, sf_dir):
    # The CM sketch of a corpus must equal the counter-wise SUM of the
    # sketches of any partition of that corpus — the mergeability that
    # lets executors sketch independently and combine, and streaming
    # microbatches fold into a running sketch.
    from pipeline_usnvc_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    rows_i = spark.range(4).select(F.col("id").cast("int").alias("i"))

    def bucket(token_col, i_col):
        return (
            F.conv(
                F.substring(F.md5(F.concat(token_col, F.lit(":"), i_col.cast("string"))), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 1024
        )

    def sketch(df):
        return (
            df.crossJoin(F.broadcast(rows_i))
            .groupBy("i", bucket(F.col("token"), F.col("i")).alias("bucket"))
            .agg(F.count("*").alias("c"))
        )

    full = sketch(tok)
    half_a = sketch(tok.filter(F.col("doc_id") % 2 == 0))
    half_b = sketch(tok.filter(F.col("doc_id") % 2 == 1))
    merged = (
        half_a.unionByName(half_b)
        .groupBy("i", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    assert full.exceptAll(merged).count() == 0
    assert merged.exceptAll(full).count() == 0


def test_chunking_covers_every_token(spark, sf_dir):
    # q148 invariants: chunk lengths bound by the window size; chunk
    # ids dense from 0; total token coverage = sum over chunks of
    # (unique tokens contributed) — verified by reconstructing each
    # doc's token count from chunk stride arithmetic.
    from pipeline_usnvc_spark.functions.text import tokens
    from pipeline_usnvc_spark.plans import QUERIES

    pdf = QUERIES["q148_chunk_documents"](spark, sf_dir).toPandas()
    assert (pdf.chunk_len <= 32).all() and (pdf.chunk_len >= 1).all()
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(tokens("text")).alias("n"))
        .toPandas()
        .set_index("doc_id")["n"]
    )
    per_doc = pdf.groupby("doc_id").agg(chunks=("chunk_id", "max"))
    for doc_id, row in per_doc.iterrows():
        n = docs[doc_id]
        assert row.chunks + 1 == len(range(0, n, 24)), (doc_id, n)
        # last chunk ends exactly at the final token: start of last
        # chunk + its length == n  (when the doc is longer than one
        # window; short docs are a single full-coverage chunk)
        last_start = row.chunks * 24
        last_real_len = min(32, n - last_start)
        assert pdf[(pdf.doc_id == doc_id) & (pdf.chunk_id == row.chunks)].chunk_len.iloc[0] == last_real_len


def test_copurchase_edge_cap_bounds_fanout(spark):
    # VERDICT r1 item 5: one hot order with 500 items must not emit
    # 500x499 edges — the per-key cap bounds it at cap*(cap-1), and
    # the kept items are the deterministic lowest ids.
    from pipeline_usnvc_spark.plans.analytics_queries import copurchase_edges

    hot = [(1, i) for i in range(500)] + [(2, 900), (2, 901)]
    op = spark.createDataFrame(hot, "l_orderkey bigint, l_partkey bigint")
    edges = copurchase_edges(op, max_items_per_key=8).collect()
    from_hot = [e for e in edges if e.src < 900]
    assert len(from_hot) == 8 * 7, f"fan-out not bounded: {len(from_hot)}"
    assert {e.src for e in from_hot} == set(range(8))  # lowest ids win
    assert len([e for e in edges if e.src >= 900]) == 2  # small keys intact


def test_curate_exercises_every_stage(spark):
    """The synthetic corpus has no exact fingerprint duplicates at
    small SFs, so the exact_dup branch is exercised here with planted
    documents covering all five outcomes."""
    from pipeline_usnvc_spark.operators.dedup_pipeline import curate

    base = " ".join(f"base{j}" for j in range(30))  # 30 distinct tokens, 28 shingles
    near = base + " one two three"  # J = 28/31 ≈ 0.90 vs base
    rows = [
        # (doc_id, source, text)
        (1, "s1", base),                      # kept (keeper of fp family)
        (2, "s1", base + "  "),               # exact_dup: same normalized fp,
                                              # same token count, higher id
        (3, "s1", near),                      # near_dup of doc 1 (J >= 0.8)
        (4, "s1", "short text"),              # quality: < 20 tokens
        (5, "s2", "punct " * 20 + "!!!???!!!" * 50),  # quality: punct ratio
    ] + [
        (10 + i, "s3", f"w{i} " + " ".join(f"tok{i}x{j}" for j in range(25)))
        for i in range(4)                     # distinct docs: quota cap at 3
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, source: string, text: string")
    out = {
        r["doc_id"]: r["drop_stage"]
        for r in curate(docs, jaccard_threshold=0.8, quota=3).collect()
    }
    assert out[1] == "kept"
    assert out[2] == "exact_dup"
    assert out[3] == "near_dup"
    assert out[4] == "quality"
    assert out[5] == "quality"
    s3_stages = sorted(out[10 + i] for i in range(4))
    assert s3_stages == ["kept", "kept", "kept", "quota"]
    # every input accounted for
    assert len(out) == len(rows)


def test_quota_window_prunes_map_side(spark, sf_dir):
    """q165's row_number()<=k window must be rewritten by Spark into
    WindowGroupLimit with a PARTIAL stage BEFORE the exchange — each
    map task pre-prunes to its local top-k per source, so a hot
    source shuffles at most k rows per task (a salted two-stage top-k
    done by the planner)."""
    from pipeline_usnvc_spark.plans import QUERIES

    df = QUERIES["q165_source_quota_cap"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan


def test_degenerate_inputs_do_not_crash(spark):
    """Empty/singleton corpora flow through the heavyweight operators
    without special-casing by the caller."""
    from pipeline_usnvc_spark.operators.bpe import train_bpe
    from pipeline_usnvc_spark.operators.dedup_pipeline import curate
    from pipeline_usnvc_spark.operators.graph import label_propagation

    empty = spark.createDataFrame([], "doc_id: long, source: string, text: string")
    assert curate(empty).count() == 0
    assert train_bpe(empty).count() == 0  # no pairs -> zero merges

    one = spark.createDataFrame(
        [(1, "s", "alpha beta gamma delta " * 10)],
        "doc_id: long, source: string, text: string",
    )
    out = curate(one).collect()
    assert len(out) == 1 and out[0]["drop_stage"] == "kept"

    # single-char words have no adjacent pairs: training yields nothing
    chars = spark.createDataFrame(
        [(1, "s", "a b c a b c")], "doc_id: long, source: string, text: string"
    )
    assert train_bpe(chars).count() == 0

    # label propagation with no edges: seeds stay, others unreached
    nodes = spark.createDataFrame([(1, "A"), (2, None)], "node bigint, label string")
    edges = spark.createDataFrame([], "src bigint, dst bigint")
    got = {r["node"]: r["origin"] for r in label_propagation(nodes, edges).collect()}
    assert got == {1: "seed", 2: "unreached"}


def test_kmv_sketches_merge_losslessly(spark, sf_dir):
    """KMV mergeability (the q198 scale contract): min-merging two
    per-group k-min hash sets and re-taking the k smallest must equal
    the sketch built directly over the union — so per-partition /
    per-source sketches can combine without rescanning tokens."""
    from pipeline_usnvc_spark.functions.text import tokens
    from pipeline_usnvc_spark.sources.tables import load_table

    K = 32
    docs = load_table(spark, sf_dir, "documents")
    half = F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b")
    toks = (
        docs.select(half.alias("grp"), F.explode(tokens("text")).alias("tok"))
        .distinct()
        .select(
            "grp", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long").alias("h")
        )
        .distinct()
    )
    per_group = {
        r["grp"]: sorted(x["h"] for x in rows)
        for r in toks.select("grp").distinct().collect()
        for rows in [toks.filter(F.col("grp") == r["grp"]).collect()]
    }
    merged = sorted(set(per_group.get("a", [])[:K]) | set(per_group.get("b", [])[:K]))[:K]
    direct = sorted(set(per_group.get("a", [])) | set(per_group.get("b", [])))[:K]
    assert merged == direct


def test_gram_matrix_equals_pair_explode(spark, sf_dir):
    """The Arrow X^T X accumulator (q196's large-d scale path) must
    equal the relational pair-explode formulation EXACTLY — both sum
    the same quantized integer products, one as an in-batch int64
    matrix, the other as a decimal groupBy."""
    from pipeline_usnvc_spark.functions.vectors import to_double_array
    from pipeline_usnvc_spark.operators.similarity import gram_matrix_quantized
    from pipeline_usnvc_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    gram = {
        (r["dim_i"], r["dim_j"]): int(r["sxy"])
        for r in gram_matrix_quantized(emb).collect()
    }

    comps = emb.select(
        "vec_id", F.posexplode(to_double_array("embedding")).alias("pos", "x")
    ).select(
        "vec_id", (F.col("pos") + 1).alias("dim"), F.floor(F.col("x") * 10000000).alias("q")
    )
    a, b = comps.alias("a"), comps.alias("b")
    pairs = (
        a.join(b, (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.dim") <= F.col("b.dim")))
        .groupBy(F.col("a.dim").alias("di"), F.col("b.dim").alias("dj"))
        .agg(
            F.sum(
                F.col("a.q").cast("decimal(19,0)") * F.col("b.q").cast("decimal(19,0)")
            ).alias("sxy")
        )
    )
    want = {(r["di"], r["dj"]): int(r["sxy"]) for r in pairs.collect()}
    assert gram == want
    d = max(j for _, j in gram)
    assert len(gram) == d * (d + 1) // 2  # full upper triangle incl. diagonal


def test_operator_review_fixes(spark, sf_dir):
    """Regression batch for the operators/ review findings."""
    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.operators.dedup import (
        lsh_candidate_pairs,
        ngram_jaccard_pairs,
    )
    from pipeline_usnvc_spark.operators.dedup_pipeline import dedup_corpus
    from pipeline_usnvc_spark.operators.diff import table_diff
    from pipeline_usnvc_spark.operators.graph import connected_components
    from pipeline_usnvc_spark.operators.similarity import (
        brute_force_topk,
        kmeans_centroids,
    )
    from pipeline_usnvc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    # capped + int_hash now compacts AND returns identical pairs to
    # the capped string path (the flag was silently ignored before)
    a = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=100).collect()
    }
    b = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(
            docs, threshold=0.3, max_doc_freq=100, int_hash=True
        ).collect()
    }
    assert a == b and a

    # indivisible bands now fail loudly instead of silently rebanding
    import pytest

    with pytest.raises(ValueError, match="divisible"):
        lsh_candidate_pairs(docs, num_hashes=8, bands=3)

    # string node ids: fixpoint must actually iterate (sum-of-label
    # cast to double returned NULL and converged after one round)
    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], "src string, dst string"
    )
    comps = {
        r["node"]: r["component"]
        for r in connected_components(chain, "src", "dst", local_threshold=0).collect()
    }
    assert comps == {n: "a" for n in "abcde"}

    # kmeans with corpus smaller than k: no IndexError, each point its
    # own centroid
    tiny = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    cents = kmeans_centroids(tiny, k=16, iters=2)
    assert len(cents) == 2

    # key-only table_diff (no compare columns): membership diff, no
    # TypeError
    old_t = spark.createDataFrame([(1,), (2,)], "id bigint")
    new_t = spark.createDataFrame([(2,), (3,)], "id bigint")
    d = {r["id"]: r["change"] for r in table_diff(old_t, new_t, ["id"]).collect()}
    assert d == {1: "removed", 3: "added"}

    # cosine top-k with STRING ids: the kernel must not assume bigint
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("vec_id"), "embedding"
    )
    qs = emb.limit(3)
    rows = brute_force_topk(emb, qs, k=2).collect()
    assert rows and all(isinstance(r["query_id"], str) for r in rows)
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)  # self excluded

    # resolve_final: every survivor_id lands on a kept doc
    resolved = dedup_corpus(docs, jaccard_threshold=0.5, resolve_final=True)
    kept_ids = {r["doc_id"] for r in resolved.filter("verdict = 'kept'").collect()}
    assert all(r["survivor_id"] in kept_ids for r in resolved.collect())


def test_rolling_sketch_tracks_exact_wau(spark, sf_dir):
    """q212's sketch-union rolling WAU stays within HLL++ error bounds
    of q205's exact rolling distinct on every day."""
    from pipeline_usnvc_spark.plans import QUERIES

    approx = {
        r["day"]: r["approx_wau"]
        for r in QUERIES["q212_rolling_actives_sketch"](spark, sf_dir).collect()
    }
    exact = {
        r["day"]: r["wau"]
        for r in QUERIES["q205_rolling_active_users"](spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    for day, ex in exact.items():
        assert abs(approx[day] - ex) <= max(5, 0.15 * ex), (day, approx[day], ex)


def test_ntile_from_rank_matches_builtin(spark):
    """ntile_from_rank(rank, n, k) must equal F.ntile(k) over the same
    total order for every n % k residue class (n in 1..13, k in
    {1, 3, 5, 10}) — the formula replaces unpartitioned ntile windows
    (single-partition sorts) with with_global_rank + map-side math."""
    from pyspark.sql import Window

    from pipeline_usnvc_spark.operators.rank import ntile_from_rank

    for n in (1, 2, 3, 4, 5, 7, 10, 13):
        df = spark.range(1, n + 1).withColumnRenamed("id", "v")
        for k in (1, 3, 5, 10):
            w = Window.orderBy("v")
            got = (
                df.withColumn("r", F.row_number().over(w).cast("bigint"))
                .withColumn("want", F.ntile(k).over(w))
                .withColumn("got", ntile_from_rank(F.col("r"), F.lit(n), k))
            )
            bad = got.filter(F.col("got") != F.col("want")).count()
            assert bad == 0, (n, k, got.orderBy("v").collect())
