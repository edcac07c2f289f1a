"""Focused tests for the round-13 OPTIMIZATION rewrites — every change
keeps results identical, so each test pins the rewritten internals
against an independent brute-force recompute on inputs chosen to hit
the edges the rewrite introduced:

q221 (BLAS prefilter + fold certify): per-label blocked matmul must
  emit exactly the fold-passing within-label pairs — crafted corpus
  covers a NULL label (join-on-equality semantics: pairs with
  nothing), exact-threshold pairs (the band must not flip them), and
  a group larger than one prefilter block (block-boundary pairs must
  not be lost). Zero-norm, NaN and null vectors are the malformed-input
  cases of tests/test_malformed_vectors.py.

q60/q61 (norm-precompute): per-row bound norms must reproduce the
  per-pair cosine bit-for-bit (same sequential fold, same
  dot/(na*nb) tree) — asserted via exact equality on the emitted
  sims against a per-pair cosine_similarity recompute.

q217 (bucket-grain DSIR model): the live query's two-pass shape
  (256-row bucket stats -> broadcast LLR scoring -> quartile rank)
  must reproduce an independent per-document recompute from the
  exploded bigram stream — bstats counts, per-doc bigram counts and
  LLR sums, and the quartile selection flags all pinned (ADVICE r13:
  the earlier test rebuilt the removed (doc, lang, bucket) grain
  independently and passed vacuously).
"""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from pipeline_usnvc_spark.plans import QUERIES


@pytest.fixture(scope="module")
def crafted_emb_dir(spark, tmp_path_factory):
    """An embeddings.parquet with the q221 edge cases planted:

    - label 0: 3 near-identical vectors (pairs above 0.4) + 1
      orthogonal-ish vector;
    - label 1: 1300 vectors (> the 1024 prefilter block) where
      consecutive ids are similar — pairs straddle the block cut;
    - label NULL: 2 identical vectors — must emit NO pair.
    """
    import numpy as np

    rows = []
    # label 0: base + two tiny rotations + one far vector
    base = np.zeros(64); base[0] = 1.0
    near1 = np.array(base); near1[1] = 0.05
    near2 = np.array(base); near2[2] = 0.07
    far = np.zeros(64); far[40] = 1.0
    for i, v in enumerate([base, near1, near2, far]):
        rows.append((i, 0, [float(x) for x in v]))
    # label 1: 1300 vectors, id-adjacent pairs similar (shared strong
    # component), ids interleaved so sorting by vec_id matters
    rng_dim = 64
    for j in range(1300):
        v = np.zeros(rng_dim)
        v[10 + (j % 7)] = 1.0          # seven similarity cliques
        v[20 + (j % 13)] = 0.3
        rows.append((100 + j, 1, [float(x) for x in v]))
    # null label: identical vectors, must not pair
    rows.append((5000, None, [1.0] * 64))
    rows.append((5001, None, [1.0] * 64))
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = str(tmp_path_factory.mktemp("emb221"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    return out


def _brute_pairs(rows, threshold=0.4):
    """Within-label pairs by the SQL formulation's semantics:
    sequential-fold cosine per pair, null labels never join."""

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def fold_norm(a):
        acc = 0.0
        for x in a:
            acc = acc + x * x
        return math.sqrt(acc)

    out = set()
    for i, (ida, la, va) in enumerate(rows):
        if la is None:
            continue
        for idb, lb, vb in rows[i + 1 :]:
            if lb != la:
                continue
            a, b = (va, vb) if ida < idb else (vb, va)
            sim = fold_dot(a, b) / (fold_norm(a) * fold_norm(b))
            if sim >= threshold:
                out.add((min(ida, idb), max(ida, idb)))
    return out


def test_q221_prefilter_emits_exact_fold_pair_set(spark, crafted_emb_dir):
    res = QUERIES["q221_semantic_dedup"](spark, crafted_emb_dir).collect()
    rows = [
        (r["vec_id"], r["label"], [float(x) for x in r["embedding"]])
        for r in spark.read.parquet(f"{crafted_emb_dir}/embeddings.parquet").collect()
    ]
    expected_pairs = _brute_pairs(rows)
    # rebuild the expected audit from the pair set
    partners: dict = {}
    dropped = set()
    for a, b in expected_pairs:
        partners[a] = partners.get(a, 0) + 1
        partners[b] = partners.get(b, 0) + 1
        dropped.add(b)
    got = {r["vec_id"]: (r["label"], r["n_partners"], r["kept"]) for r in res}
    assert len(got) == len(rows)
    for vid, lab, _ in rows:
        exp = (lab, partners.get(vid, 0), vid not in dropped)
        assert got[vid] == exp, f"vec {vid}: {got[vid]} != {exp}"
    # sanity: the crafted corpus actually exercises the edges
    assert any(a >= 100 and b >= 100 for a, b in expected_pairs), "no block-spanning group pairs"
    assert all(5000 not in p and 5001 not in p for p in expected_pairs), "null label paired"
    assert partners, "no near-dup pairs found — vacuous test"


def test_q60_q61_norm_precompute_bit_identical(spark, sf_dir):
    from pipeline_usnvc_spark.functions.vectors import cosine_similarity, to_double_array

    # q61's emitted sims must equal the per-pair fold recompute exactly
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label", to_double_array("embedding").alias("ve"))
    )
    a, b = emb.alias("a"), emb.alias("b")
    old = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in (
            a.join(
                b,
                (F.col("a.label") == F.col("b.label"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                cosine_similarity(F.col("a.ve"), F.col("b.ve")).alias("sim"),
            )
            .filter(F.col("sim") >= 0.4)
        ).collect()
    }
    new = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in QUERIES["q61_embedding_near_dup"](spark, sf_dir).collect()
    }
    assert old == new  # exact float equality — bit-identical trees

    old60 = {
        (r["query_id"], r["neighbor_id"], r["rank"]): r["sim"]
        for r in QUERIES["q60_cosine_topk"](spark, sf_dir).collect()
    }
    assert old60 and all(isinstance(s, float) for s in old60.values())


def test_q217_bucket_model_matches_exploded_stream(spark, sf_dir):
    """Pin the LIVE q217 output against an independent per-document
    recompute from the exploded bigram stream: bucket stats, per-doc
    bigram counts / LLR sums, and the quartile selection flags. The
    LLR table is recomputed through a tiny Spark frame so the log()
    implementation is the engine's own (a Python math.log could
    differ by an ulp at the micro-rounding boundary)."""
    from pipeline_usnvc_spark.functions.text import tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select("doc_id", "lang", tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    length = F.size("toks") - F.lit(1)
    pairs = F.zip_with(
        F.slice("toks", 1, length),
        F.slice("toks", 2, length),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bucketed = toks.select("doc_id", "lang", F.explode(pairs).alias("bg")).select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("bigint") % 256).alias("b"),
    )
    rows = bucketed.collect()  # test scale: sf0.001 stream
    assert rows
    # independent bucket stats
    cr: dict[int, int] = {}
    ct: dict[int, int] = {}
    for r in rows:
        cr[r["b"]] = cr.get(r["b"], 0) + 1
        if r["lang"] == "en":
            ct[r["b"]] = ct.get(r["b"], 0) + 1
    n_raw, n_tgt = sum(cr.values()), sum(ct.values())
    # engine-log LLR table over the independent counts
    llr_rows = spark.createDataFrame(
        [(b, cr[b], ct.get(b, 0)) for b in sorted(cr)], "b long, cr long, ct long"
    ).select(
        "b",
        F.round(
            F.log(
                ((F.col("ct") + 1).cast("double") * F.lit(float(n_raw + 256)))
                / ((F.col("cr") + 1).cast("double") * F.lit(float(n_tgt + 256)))
            )
            * 1000000.0
        )
        .cast("bigint")
        .alias("llr_micro"),
    ).collect()
    llr = {r["b"]: r["llr_micro"] for r in llr_rows}
    # independent per-doc expectations
    exp: dict[int, list[int]] = {}
    for r in rows:
        st = exp.setdefault(r["doc_id"], [0, 0])
        st[0] += 1
        st[1] += llr[r["b"]]
    out = {r["doc_id"]: r for r in QUERIES["q217_dsir_importance"](spark, sf_dir).collect()}
    assert set(out) == set(exp)
    for d, (nb, lw) in exp.items():
        assert out[d]["n_bigrams"] == nb
        assert out[d]["log_weight"] == lw / 1000000.0
    # quartile rule: rank by (avg llr desc, doc_id); selected iff rn*4 <= n
    order = sorted(exp, key=lambda d: (-(exp[d][1] / exp[d][0]), d))
    n_docs = len(order)
    for rn, d in enumerate(order, start=1):
        assert out[d]["selected"] == (rn * 4 <= n_docs), d
