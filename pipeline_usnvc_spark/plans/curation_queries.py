"""Corpus-curation queries: the selection layer of an LLM
training-data pipeline — dedup keepers, novelty/fertility/dup-rate
reporting, temperature source mixing and quota fills, curriculum
ordering, Zipf corpus-health fits, BPE tokenizer training, feature
hashing, an LSH parameter planner, and the composed end-to-end
curation gate (q174).

All are oracle-exact except q171 (iterative BPE, rows-only +
property-tested): integer counts + single cast-to-double divisions,
md5-derived keys, and deterministic tie orders; anything touching
libm (pow / ln / percentile interpolation) rounds to 6 dp on BOTH
engines before summation and 4 dp at the end (the round-before-rank
discipline from q35/q66).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_usnvc_spark.functions.text import (
    doc_fingerprint,
    token_count,
    tokens,
    word_shingles,
)
from pipeline_usnvc_spark.plans.dedup_queries import _MINHASH_SQL
from pipeline_usnvc_spark.plans.registry import _d38, query
from pipeline_usnvc_spark.sources.tables import load_table


from pipeline_usnvc_spark.functions.text import TOKENIZE_SQL as _TOKS_SQL

# coalesce(''): DuckDB string_agg/array_to_string of an EMPTY or NULL
# token list is NULL (md5 -> NULL) while the Spark spec md5(concat_ws)
# yields md5('') — zero-token or NULL-text docs must fingerprint
# identically on both engines (review finding).
_FP_SQL = f"md5(coalesce(list_aggregate({_TOKS_SQL}, 'string_agg', ' '), ''))"

_SHINGLES_SQL = f"""
    SELECT doc_id, unnest(
        list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2])
    ) AS shingle
    FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
"""


# ---------------------------------------------------------------------------
# q157 — quality-aware dedup keeper: within each exact-duplicate
# cluster (normalized-token md5), keep the doc with the MOST tokens
# (tie: lowest doc_id) instead of the arbitrary min-id keeper — the
# curation rule that retains the best-formatted copy of a boilerplate
# family. Scale shape: ONE groupBy on the 16-byte digest with
# map-side partial aggregation — the keeper is a struct-max
# (n_tokens, -doc_id) argmax computed in the combiner, so a
# pathological cluster holding 90% of the corpus still reduces
# map-side instead of hot-spotting a window partition (session-2
# rewrite of the round-1 window formulation; same q160 reasoning).
# Raw text never shuffles.
# ---------------------------------------------------------------------------
@query(
    "q157_quality_keeper",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, {_FP_SQL} AS fp, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT fp, doc_id, n_tokens,
               row_number() OVER (PARTITION BY fp ORDER BY n_tokens DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY fp) AS cluster_size
        FROM scored
    )
    SELECT fp, doc_id AS keeper_id, n_tokens AS keeper_tokens,
           CAST(cluster_size AS BIGINT) AS cluster_size
    FROM ranked WHERE rn = 1
    """,
)
def q157_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        doc_fingerprint("text").alias("fp"),
        token_count("text").alias("n_tokens"),
    )
    top = F.max(F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("neg_id")))
    return scored.groupBy("fp").agg(
        top.alias("top"), F.count("*").cast("bigint").alias("cluster_size")
    ).select(
        "fp",
        (-F.col("top.neg_id")).alias("keeper_id"),
        F.col("top.n_tokens").alias("keeper_tokens"),
        "cluster_size",
    )


# ---------------------------------------------------------------------------
# q158 — tokenizer fertility per source: tokens emitted per character
# (the budget number that converts a corpus size in bytes into a
# token count). Integer sums, one double division — exact parity.
# One exchange (groupBy source) with map-side partials.
# ---------------------------------------------------------------------------
@query(
    "q158_token_fertility",
    oracle=f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(len({_TOKS_SQL})) AS DOUBLE) / CAST(sum(length(text)) AS DOUBLE)
               AS tokens_per_char
    FROM documents GROUP BY source
    """,
)
def q158_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source", token_count("text").alias("toks"), F.length("text").alias("chars")
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("toks").alias("total_tokens"),
        F.sum("chars").alias("total_chars"),
        (
            F.sum("toks").cast("double") / F.sum("chars").cast("double")
        ).alias("tokens_per_char"),
    )


# ---------------------------------------------------------------------------
# q159 — per-type winsorization of the event value stream: clamp to
# the exact [p05, p95] band of each event_type (outlier damping before
# aggregate statistics). Exact interpolated percentiles on both
# engines (Spark percentile == DuckDB quantile_cont); the clamped
# output rounds to 6 dp so last-ulp interpolation differences cannot
# surface. Scale shape: percentile agg is one exchange on event_type
# (tiny output), broadcast back onto the stream — the fact table
# never shuffles.
# ---------------------------------------------------------------------------
@query(
    "q159_winsorize_values",
    oracle="""
    WITH bands AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round(least(greatest(e.value, b.lo), b.hi), 6) AS winsorized
    FROM events e JOIN bands b USING (event_type)
    """,
)
def q159_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bands = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    return ev.join(F.broadcast(bands), "event_type").select(
        "event_id",
        "event_type",
        F.round(F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")), 6).alias(
            "winsorized"
        ),
    )


# ---------------------------------------------------------------------------
# q160 — cross-document novelty: the fraction of a doc's distinct
# 3-gram shingles not seen in any LOWER-id document (stream-order
# novelty — the marginal-information score used to prioritize fresh
# content). Scale shape: NO window, NO join-back — n_novel per doc is
# just groupBy(first_seen).count() over the (shingle → min doc_id)
# aggregate, and n_shingles is a doc-keyed count; every exchange has
# map-side partial aggregation, so a boilerplate shingle shared by 1M
# docs combines to one row per map task instead of hot-spotting a
# window partition (the round-1 window-min formulation had no partial
# agg and shuffled the full (doc, shingle) stream by shingle).
# No pairwise comparisons anywhere.
# ---------------------------------------------------------------------------
@query(
    "q160_novelty_score",
    oracle=f"""
    WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
    firsts AS (
        SELECT doc_id, shingle,
               min(doc_id) OVER (PARTITION BY shingle) AS first_seen
        FROM sh
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN first_seen = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN first_seen = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS novelty
    FROM firsts GROUP BY doc_id
    """,
)
def q160_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", F.explode(word_shingles(tokens("text"))).alias("shingle"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    novel_counts = (
        sh.groupBy("shingle")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_novel"))
    )
    return sizes.join(novel_counts, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
        (
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("novelty"),
    )


# The alpha = 0.3 temperature mixture spine shared by q161 (weight
# report), q166 (quota fill) and q211 (epoch upsample) — ONE
# definition each side so the alpha, the rounding and the
# normalization can never drift between the report and the plans
# that claim to materialize it (review finding: six drifting copies
# counting the SQL strings).
_TEMPERATURE_CTES = """counts AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
    ),
    powed AS (
        SELECT source, n_docs, pow(CAST(n_docs AS DOUBLE), 0.3) AS w FROM counts
    )"""


def _temperature_weights(docs: DataFrame) -> DataFrame:
    """(source, n_docs, w, w_total): per-source counts, w = n^0.3 and
    the normalizing total as an unpartitioned window over the
    |sources|-row aggregate — NOT crossJoin(broadcast(powed.agg())),
    which would re-execute the count subtree and scan the corpus a
    second time (proven in test_plans)."""
    counts = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    powed = counts.withColumn("w", F.pow(F.col("n_docs").cast("double"), F.lit(0.3)))
    return powed.withColumn("w_total", F.sum("w").over(Window.partitionBy()))


# ---------------------------------------------------------------------------
# q161 — temperature-balanced source mixture: sampling weights
# w_s ∝ n_s^α (α = 0.3) normalized over sources — the standard
# up-weighting of small high-quality sources when composing a
# training mix. pow is libm: shares round to 6 dp on both engines.
# Driver-free AND single-scan: the normalizing sum is an unpartitioned
# window over the already-aggregated |sources|-row frame — a
# crossJoin(broadcast(powed.agg(...))) would re-execute the count
# subtree and scan the corpus a second time (proven in test_plans).
# ---------------------------------------------------------------------------
@query(
    "q161_temperature_mix",
    oracle=f"""
    WITH {_TEMPERATURE_CTES}
    SELECT source, n_docs,
           round(w / (SELECT sum(w) FROM powed), 6) AS mix_share
    FROM powed
    """,
)
def q161_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    powed = _temperature_weights(docs)
    return powed.select(
        "source",
        "n_docs",
        F.round(F.col("w") / F.col("w_total"), 6).alias("mix_share"),
    )


# ---------------------------------------------------------------------------
# q162 — per-source duplication report: exact-dup rate from the
# normalized fingerprint (the corpus-health dashboard number that
# decides which sources need aggressive dedup). One exchange on
# (source); distinct digests via count(DISTINCT md5) with partial
# aggregation — raw text never shuffles.
# ---------------------------------------------------------------------------
@query(
    "q162_dup_rate_report",
    oracle=f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT {_FP_SQL}) AS BIGINT) AS n_distinct,
           CAST(count(*) - count(DISTINCT {_FP_SQL}) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS dup_rate
    FROM documents GROUP BY source
    """,
)
def q162_dup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("source", doc_fingerprint("text").alias("fp"))
    return fp.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct"),
        (
            (F.count("*") - F.countDistinct("fp")).cast("double")
            / F.count("*").cast("double")
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# q163 — containment dedup pairs: |A∩B|/|A| per direction, flagged
# when either reaches 0.5 — the "short doc embedded in long doc"
# detector that Jaccard dilutes away (operators/dedup.containment_pairs).
# Same inverted-index equi-join scale shape as q54/q99.
# ---------------------------------------------------------------------------
@query(
    "q163_containment_pairs",
    oracle=f"""
    WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS cont_a_in_b,
           CAST(inter AS DOUBLE) / CAST(sb.sz AS DOUBLE) AS cont_b_in_a
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= 0.5
       OR CAST(inter AS DOUBLE) / CAST(sb.sz AS DOUBLE) >= 0.5
    """,
)
def q163_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=0.5)


# ---------------------------------------------------------------------------
# q165 — per-source quota cap: keep at most K documents per source,
# chosen by a deterministic md5-derived shuffle order (the "cap any
# single domain at N pages" rule that stops one crawl host from
# dominating a training mix). Reproducible across engines and runs —
# no RNG state, the hash IS the sample. Scale shape: one exchange
# (window partitioned by source); raw text never moves, only
# (doc_id, source, 32-hex digest).
# ---------------------------------------------------------------------------
_QUOTA_K = 10


@query(
    "q165_source_quota_cap",
    oracle=f"""
    SELECT doc_id, source, CAST(rk AS BIGINT) AS quota_rank
    FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    ) WHERE rk <= {_QUOTA_K}
    """,
)
def q165_source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Hot-source safety comes free: Spark rewrites row_number()<=k
    # into WindowGroupLimit(Partial) BEFORE the exchange, so each map
    # task pre-prunes to its local top-k per source and at most
    # k·tasks rows per source ever shuffle (asserted in test_plans).
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("quota_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("quota_rank") <= _QUOTA_K)
    )


# ---------------------------------------------------------------------------
# q166 — temperature-quota fill: materialize the q161 mixture. Each
# source's quota is floor(BUDGET * share_s) (share_s ∝ n_s^0.3,
# rounded to 6 dp — the one libm value, same discipline as q161),
# filled by the deterministic md5 rank from q165. This is the actual
# "compose the training mix" step, not just its weight report.
# Scale shape: quotas are a |sources|-row broadcast; the fact side
# pays exactly one exchange for the per-source window.
# ---------------------------------------------------------------------------
_MIX_BUDGET = 200


@query(
    "q166_temperature_quota_fill",
    oracle=f"""
    WITH {_TEMPERATURE_CTES},
    quotas AS (
        SELECT source,
               greatest(1, CAST(floor({_MIX_BUDGET} * round(w / (SELECT sum(w) FROM powed), 6)) AS BIGINT)) AS quota
        FROM powed
    ),
    ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS quota_rank, q.quota
    FROM ranked r JOIN quotas q USING (source)
    WHERE r.rk <= q.quota
    """,
)
def q166_temperature_quota_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    powed = _temperature_weights(docs)
    w_total = F.col("w_total")
    quotas = powed.select(
        "source",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(F.lit(_MIX_BUDGET) * F.round(F.col("w") / w_total, 6)).cast(
                "bigint"
            ),
        ).alias("quota"),
    )
    # Quotas never exceed the budget, so ranks prune at BUDGET
    # map-side (WindowGroupLimit, see q165) before the exact
    # per-source quota filter.
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = (
        docs.select("doc_id", "source")
        .withColumn("quota_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("quota_rank") <= _MIX_BUDGET)
    )
    return ranked.join(F.broadcast(quotas), "source").filter(
        F.col("quota_rank") <= F.col("quota")
    ).select("doc_id", "source", "quota_rank", "quota")


# ---------------------------------------------------------------------------
# q167 — global curriculum position: every document's exact 1-based
# position in the easy→hard order (mean token length ascending — the
# curriculum/annealing sort that schedules short simple text first).
# Scale shape: NO single-partition sort — operators/rank.with_global_rank
# decodes local ranks from monotonically_increasing_id over a range
# exchange, so the global order costs one repartitionByRange.
# ---------------------------------------------------------------------------
@query(
    "q167_curriculum_rank",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               CASE WHEN len(toks) > 0
                    THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                         / CAST(len(toks) AS DOUBLE)
                    ELSE 0.0 END AS difficulty
        FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-zA-Z0-9]+'), t -> t <> '') AS toks
              FROM documents)
    )
    SELECT doc_id, difficulty,
           CAST(row_number() OVER (ORDER BY difficulty, doc_id) AS BIGINT) AS curriculum_pos
    FROM scored
    """,
)
def q167_curriculum_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.rank import with_global_rank

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    difficulty = F.when(
        F.size(toks) > 0,
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t)).cast(
            "double"
        )
        / F.size(toks).cast("double"),
    ).otherwise(F.lit(0.0))
    scored = docs.select("doc_id", difficulty.alias("difficulty"))
    ranked = with_global_rank(
        scored, "difficulty", "doc_id", rank_col="curriculum_pos"
    )
    return ranked.select(
        "doc_id", "difficulty", F.col("curriculum_pos").cast("bigint").alias("curriculum_pos")
    )


# ---------------------------------------------------------------------------
# q168 — Zipf fit per source: least-squares slope of ln(freq) vs
# ln(rank) over each source's top-100 terms. Natural-language text
# sits near slope ≈ -1; templated/boilerplate sources flatten — a
# corpus-health fingerprint. Determinism: every ln() takes an integer
# input (rank / count) so both engines produce the identical double
# (q38/q147 discipline); products round to 6 dp before the ≤100-term
# sum and the slope to 4 dp, so addition order cannot surface.
# Scale shape: term counts are one exchange; the per-source window
# ranks the vocabulary table (≪ corpus, Heaps' law), never documents.
# ---------------------------------------------------------------------------
@query(
    "q168_zipf_fit",
    oracle=f"""
    WITH toks AS (SELECT source, unnest({_TOKS_SQL}) AS term FROM documents),
    tc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
    ranked AS (
        SELECT source, c,
               row_number() OVER (PARTITION BY source ORDER BY c DESC, term) AS rk
        FROM tc
    ),
    pts AS (
        SELECT source,
               round(ln(CAST(rk AS DOUBLE)), 6) AS x,
               round(ln(CAST(c AS DOUBLE)), 6) AS y
        FROM ranked WHERE rk <= 100
    ),
    stats AS (
        SELECT source, count(*) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(round(x * y, 6)) AS sxy, sum(round(x * x, 6)) AS sxx
        FROM pts GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope
    FROM stats WHERE n >= 10
    """,
)
def q168_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("term"))
    pts = (
        tc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 100)
        .select(
            "source",
            F.round(F.log(F.col("rk").cast("double")), 6).alias("x"),
            F.round(F.log(F.col("c").cast("double")), 6).alias("y"),
        )
    )
    stats = pts.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 6)).alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 6)).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    return stats.filter(n >= 10).select(
        "source",
        n.cast("bigint").alias("n_terms"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# q172 — near-dup threshold sweep: how many pairs / how many distinct
# documents a Jaccard dedup pass would flag at each candidate
# threshold — the report that picks the dedup operating point before
# committing to a full pass. Reuses the q99 inverted-index pair table
# (computed ONCE at the loosest threshold); the sweep itself is a
# 4-row broadcast joined against the pair table, so the marginal cost
# per threshold is an in-memory filter, not a recompute.
# ---------------------------------------------------------------------------
_SWEEP_THRESHOLDS = (0.2, 0.4, 0.6, 0.8)


@query(
    "q172_neardup_threshold_sweep",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS shingle
        FROM ({_SHINGLES_SQL})
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b,
               CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) AS sim
        FROM inter
          JOIN sizes sa ON inter.id_a = sa.doc_id
          JOIN sizes sb ON inter.id_b = sb.doc_id
    ),
    th AS (SELECT unnest([{', '.join(f'CAST({t} AS DOUBLE)' for t in _SWEEP_THRESHOLDS)}]) AS threshold),
    sweep AS (
        SELECT th.threshold, p.id_a, p.id_b
        FROM pairs p JOIN th ON p.sim >= th.threshold
    ),
    np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs FROM sweep GROUP BY 1),
    nd AS (
        SELECT threshold, CAST(count(DISTINCT d) AS BIGINT) AS n_docs_flagged
        FROM (SELECT threshold, unnest([id_a, id_b]) AS d FROM sweep)
        GROUP BY 1
    )
    SELECT threshold, n_pairs, n_docs_flagged FROM np JOIN nd USING (threshold)
    """,
)
def q172_neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=min(_SWEEP_THRESHOLDS), int_hash=True)
    th = F.explode(
        F.array(*[F.lit(t).cast("double") for t in _SWEEP_THRESHOLDS])
    ).alias("threshold")
    sweep = pairs.select(th, "id_a", "id_b", "jaccard").filter(
        F.col("jaccard") >= F.col("threshold")
    )
    # Single aggregation pass: exploding both endpoints doubles each
    # pair exactly once, so n_pairs = rows/2 and the flagged-doc count
    # is a distinct over the same exploded stream — the pair join runs
    # ONCE (two separate aggs would re-execute it per branch).
    return (
        sweep.select("threshold", F.explode(F.array("id_a", "id_b")).alias("d"))
        .groupBy("threshold")
        .agg(
            (F.count("*") / 2).cast("bigint").alias("n_pairs"),
            F.countDistinct("d").cast("bigint").alias("n_docs_flagged"),
        )
    )


def _bpe_cte_chain(n_merges: int = 5, min_pair_count: int = 2) -> str:
    """Shared WITH-prefix for the BPE oracles (q171 train, q219
    encode): s0 (word/syms/cnt vocabulary), then alternating
    m{i} (merge-rule argmax) and s{i} (corpus after applying merge i)
    chained CTEs. Every quantity in the loop is an integer or a
    string, so each round is SQL — weighted adjacent-pair counts, the
    (n DESC, pair ASC) argmax, and the greedy leftmost
    non-overlapping merge expressed as a list_reduce STRING fold
    (DuckDB 1.0's accumulator must be scalar, so the operator's
    (out[], carry) struct is encoded as 'out-joined-by-chr(1)' ||
    chr(2) || carry — symbols are alphanumeric, so the control chars
    are unambiguous). The argmax tie-break compares pair strings
    joined by a control separator on both engines (chr(0) in Spark,
    chr(1) here); any separator below the symbol alphabet induces the
    SAME total order, so ties break identically. A round whose best
    count drops below ``min_pair_count`` yields an empty m-CTE; the
    s-stage LEFT JOINs its merge rule, and a NULL rule never matches
    the fold's carry, so the fold degenerates to identity and later
    rounds see the unchanged corpus — they recompute the same
    below-threshold argmax and stay empty, exactly the operator's
    early break, while the encode path keeps every word. MATERIALIZED
    because each stage reads its predecessor several times (the q178
    rule)."""
    from pipeline_usnvc_spark.functions.text import TOKENIZE_SQL

    out = "split_part(acc, chr(2), 1)"
    carry = "split_part(acc, chr(2), 2)"
    flush = (
        f"(CASE WHEN {carry} = '' THEN {out} "
        f"WHEN {out} = '' THEN {carry} "
        f"ELSE {out} || chr(1) || {carry} END)"
    )
    step = (
        f"CASE WHEN {carry} = m.l AND s = m.r "
        f"THEN (CASE WHEN {out} = '' THEN m.l || m.r "
        f"ELSE {out} || chr(1) || (m.l || m.r) END) || chr(2) "
        f"ELSE {flush} || chr(2) || s END"
    )
    fin = (
        "CASE WHEN split_part(folded, chr(2), 2) = ''"
        " THEN split_part(folded, chr(2), 1)"
        " WHEN split_part(folded, chr(2), 1) = ''"
        " THEN split_part(folded, chr(2), 2)"
        " ELSE split_part(folded, chr(2), 1) || chr(1)"
        " || split_part(folded, chr(2), 2) END"
    )
    pairs = (
        "unnest(list_transform(range(1, greatest(len(syms) - 1, 0) + 1),"
        " j -> syms[CAST(j AS INT)] || chr(1) || syms[CAST(j + 1 AS INT)]))"
    )
    stages = []
    for i in range(1, n_merges + 1):
        stages.append(
            f"""m{i} AS MATERIALIZED (
        SELECT split_part(pair, chr(1), 1) AS l,
               split_part(pair, chr(1), 2) AS r, n
        FROM (
            SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
            FROM (SELECT {pairs} AS pair, cnt FROM s{i - 1})
            GROUP BY pair
        ) WHERE n >= {min_pair_count}
        ORDER BY n DESC, pair ASC LIMIT 1
    )"""
        )
        stages.append(
            f"""s{i} AS MATERIALIZED (
        SELECT word, string_split({fin}, chr(1)) AS syms, cnt
        FROM (
            SELECT word, list_reduce(list_prepend(chr(2), syms),
                               (acc, s) -> {step}) AS folded, cnt
            FROM s{i - 1} LEFT JOIN m{i} AS m ON TRUE
        )
    )"""
        )
    joined = ",\n    ".join(stages)
    return f"""
    WITH s0 AS MATERIALIZED (
        SELECT word,
               list_transform(range(1, length(word) + 1),
                              i -> substr(word, CAST(i AS INT), 1)) AS syms,
               CAST(cnt AS BIGINT) AS cnt
        FROM (
            SELECT word, count(*) AS cnt
            FROM (SELECT unnest({TOKENIZE_SQL}) AS word FROM documents)
            GROUP BY word
        )
    ),
    {joined}
    """


def _q171_oracle(n_merges: int = 5, min_pair_count: int = 2) -> str:
    """BPE merge-training oracle: the shared chain's m{i} rows,
    unioned in round order (see ``_bpe_cte_chain``)."""
    rounds = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_round, l AS \"left\","
        f" r AS \"right\", l || r AS merged, n AS pair_count FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return f"""
    {_bpe_cte_chain(n_merges, min_pair_count)}
    SELECT * FROM ({rounds}) ORDER BY merge_round
    """


def _q219_oracle(n_merges: int = 5, min_pair_count: int = 2) -> str:
    """BPE encode oracle: the shared chain's FINAL corpus state
    s{n_merges} IS the encoded vocabulary — every word's symbol list
    after all learned merges. The reshape (top-20 by frequency,
    round-trip flag, cnt-weighted corpus totals) is plain SQL."""
    n = n_merges
    return f"""
    {_bpe_cte_chain(n_merges, min_pair_count)},
    enc AS MATERIALIZED (
        SELECT word, cnt,
               CAST(length(word) AS BIGINT) AS n_chars_sym,
               CAST(len(syms) AS BIGINT) AS n_tokens,
               array_to_string(syms, ' ') AS encoding,
               array_to_string(syms, '') = word AS roundtrip_ok
        FROM s{n}
    ),
    tot AS (
        SELECT CAST(sum(cnt * n_chars_sym) AS BIGINT) AS corpus_chars,
               CAST(sum(cnt * n_tokens) AS BIGINT) AS corpus_tokens,
               CAST(count(*) AS BIGINT) AS vocab_size
        FROM enc
    )
    SELECT e.*, t.*
    FROM (SELECT * FROM enc ORDER BY cnt DESC, word LIMIT 20) e
    CROSS JOIN tot t
    """


# ---------------------------------------------------------------------------
# q171 — BPE merge training. HASH-GREEN since round 13: the training
# loop is pure integer/string arithmetic, so the bounded merge count
# unrolls to chained MATERIALIZED CTEs with the greedy merge as a
# string-accumulator list_reduce fold (_q171_oracle — the q101/q178
# trick extended to sequence rewriting). Learns the top-5 corpus
# merges from the word-frequency table (operators/bpe.py) — the
# tokenizer-training step of an LLM data pipeline. Driver traffic is
# 1 row per round; each round is one exchange over the vocabulary
# table (≪ corpus by Heaps' law). Independently verified in
# tests/test_bpe.py: round-1 argmax equals the DuckDB weighted pair
# count, the greedy fold matches hand-computed merges (including
# overlapping runs), replayed merges reconcile the total symbol-count
# decrease, and training is deterministic.
# ---------------------------------------------------------------------------
@query("q171_bpe_merge_train", oracle=_q171_oracle())
def q171_bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.bpe import (
        MIN_PAIR_COUNT_DEFAULT,
        adjacent_pair_counts,
        train_bpe,
        word_symbol_table,
        _SEP,
    )
    from pipeline_usnvc_spark.operators.contracts import contract_filter

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=5)
    # In-plan training contract (VERDICT r05 item 2), three executed
    # checks riding the merge-table rows themselves:
    #   1. merged == left || right and pair_count ≥ min_pair_count —
    #      the table is well-formed;
    #   2. pair_count is non-increasing in merge_round — the classic
    #      BPE argmax invariant (merging the best pair can only create
    #      pairs whose count ≤ the merge count ≤ the previous max);
    #   3. round 1's (left, right, pair_count) equals a from-scratch
    #      recount of the best adjacent pair over the corpus word
    #      table — re-executed at consumption time, so the driver row
    #      certifies the training loop's first argmax against the
    #      same data it reads.
    from pyspark.sql import Window

    w = Window.orderBy("merge_round").rowsBetween(Window.unboundedPreceding, -1)
    best0 = (
        adjacent_pair_counts(word_symbol_table(docs))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(1)
        .select(
            F.split("pair", _SEP).getItem(0).alias("r1_left"),
            F.split("pair", _SEP).getItem(1).alias("r1_right"),
            F.col("n").alias("r1_count"),
        )
    )
    checked = merges.withColumn(
        "_prev_min", F.coalesce(F.min("pair_count").over(w), F.col("pair_count"))
    ).crossJoin(F.broadcast(best0))
    return contract_filter(
        checked,
        (F.col("merged") == F.concat("left", "right"))
        & (F.col("pair_count") >= MIN_PAIR_COUNT_DEFAULT)
        & (F.col("pair_count") <= F.col("_prev_min"))
        & (
            (F.col("merge_round") != 1)
            | (
                (F.col("left") == F.col("r1_left"))
                & (F.col("right") == F.col("r1_right"))
                & (F.col("pair_count") == F.col("r1_count"))
            )
        ),
        F.concat(
            F.lit("BPE merge-table contract breach at round "),
            F.col("merge_round"),
            F.lit(": ("),
            F.col("left"),
            F.lit(","),
            F.col("right"),
            F.lit(")x"),
            F.col("pair_count"),
            F.lit(" vs recount ("),
            F.col("r1_left"),
            F.lit(","),
            F.col("r1_right"),
            F.lit(")x"),
            F.col("r1_count"),
        ),
    ).select("merge_round", "left", "right", "merged", "pair_count")


# ---------------------------------------------------------------------------
# q174 — END-TO-END curation pipeline with audit trail: the composed
# training-data gate a user actually runs, with every document
# accounted for:
#
#   quality (C4-style rules, q36) → exact-dup keeper (q157 rule)
#   → single-pass near-dup drop (Jaccard ≥ 0.8 among survivors,
#     keep-lowest-id) → per-source quota (md5 rank ≤ 15)
#
# Output is the full per-document audit: (doc_id, source, drop_stage
# ∈ quality|exact_dup|near_dup|quota|kept). Deliberately SQL-
# expressible end-to-end (oracle-exact): the near-dup stage here is
# the single-pass anti-join rule (drop any doc that is the higher id
# of a ≥0.8 pair) — NOT transitive closure; the full connected-
# components variant is q56's territory and is approximate only in
# that it iterates. Scale shape: each stage is one exchange on its
# own key (fp / shingle / source); later stages only process earlier
# survivors, so the expensive shingle join runs on the post-exact-
# dedup corpus (the 30x stress in SCALE.md shows why that ordering
# matters); the drop-lists rejoin the document spine on doc_id.
# ---------------------------------------------------------------------------
_CURATE_JACCARD = 0.8
_CURATE_QUOTA = 15


@query(
    "q174_curation_pipeline",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source,
               {_FP_SQL} AS fp,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
               CASE WHEN length(text) > 0
                    THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
                    ELSE 0.0 END AS punct_ratio
        FROM documents
    ),
    staged AS (
        SELECT *,
               CASE WHEN n_tokens < 20 OR n_tokens > 2000 OR punct_ratio > 0.3
                    THEN 'quality' END AS q_fail
        FROM base
    ),
    keepers AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY fp ORDER BY n_tokens DESC, doc_id) AS rn
        FROM staged WHERE q_fail IS NULL
    ),
    s2 AS (
        SELECT s.doc_id, s.source FROM staged s JOIN keepers k ON s.doc_id = k.doc_id
        WHERE k.rn = 1
    ),
    sh AS (
        SELECT DISTINCT g.doc_id,
               CAST('0x' || substr(md5(g.shingle), 1, 15) AS BIGINT) AS shingle
        FROM ({_SHINGLES_SQL}) g JOIN s2 ON g.doc_id = s2.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    near_dropped AS (
        SELECT DISTINCT b.doc_id AS doc_id FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) p
        JOIN sizes sa ON p.id_a = sa.doc_id
        JOIN sizes sb ON p.id_b = sb.doc_id
        JOIN (SELECT doc_id FROM s2) b ON p.id_b = b.doc_id
        WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE)
              >= {_CURATE_JACCARD}
    ),
    s3 AS (
        SELECT s2.doc_id, s2.source FROM s2
        WHERE s2.doc_id NOT IN (SELECT doc_id FROM near_dropped)
    ),
    quota_ranked AS (
        SELECT doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM s3
    )
    SELECT b.doc_id, b.source,
           CASE
             WHEN s.q_fail IS NOT NULL THEN 'quality'
             WHEN k.rn IS NOT NULL AND k.rn > 1 THEN 'exact_dup'
             WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
             WHEN qr.rk > {_CURATE_QUOTA} THEN 'quota'
             ELSE 'kept'
           END AS drop_stage
    FROM base b
    JOIN staged s ON b.doc_id = s.doc_id
    LEFT JOIN keepers k ON b.doc_id = k.doc_id
    LEFT JOIN near_dropped nd ON b.doc_id = nd.doc_id
    LEFT JOIN quota_ranked qr ON b.doc_id = qr.doc_id
    """,
)
def q174_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.dedup_pipeline import curate

    return curate(
        load_table(spark, sf_dir, "documents"),
        jaccard_threshold=_CURATE_JACCARD,
        quota=_CURATE_QUOTA,
    ).select("doc_id", "source", "drop_stage")


# ---------------------------------------------------------------------------
# q175 — feature hashing (the "hashing trick", Weinberger et al.
# 2009): project every document's bag-of-words into a fixed 16-bucket
# signed feature space using md5-derived bucket + sign — model-free
# featurization that needs no vocabulary table and therefore no
# global state at 100 TB. Output is the SPARSE (doc_id, dim, value)
# form — the natural distributed representation (dense assembly is a
# per-doc collect_list away when a consumer wants arrays).
# All-integer arithmetic: oracle-exact.
# Scale shape: explode → one exchange on (doc_id, dim) with map-side
# partials; no joins, no global structures.
# ---------------------------------------------------------------------------
_FH_DIMS = 16


@query(
    "q175_feature_hashing",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % {_FH_DIMS} AS dim,
               CASE WHEN CAST('0x' || substr(md5(token), 9, 1) AS BIGINT) % 2 = 0
                    THEN 1 ELSE -1 END AS sign
        FROM tok
    )
    SELECT doc_id, dim, CAST(sum(sign) AS BIGINT) AS value
    FROM hashed GROUP BY doc_id, dim
    HAVING sum(sign) <> 0
    """,
)
def q175_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    md5 = F.md5("token")
    dim = F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint") % _FH_DIMS
    sign = F.when(
        F.conv(F.substring(md5, 9, 1), 16, 10).cast("bigint") % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        tok.select("doc_id", dim.alias("dim"), sign.alias("sign"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("sign").cast("bigint").alias("value"))
        .filter(F.col("value") != 0)
    )


# ---------------------------------------------------------------------------
# q176 — data-driven LSH parameter planner: for each (bands, rows)
# split of a 128-hash MinHash budget, the expected recall at the
# near-dup band (J ≥ 0.8) and the expected false-candidate load,
# evaluated against THIS corpus's observed pair-similarity
# distribution (the q99 pair table), not a textbook S-curve alone —
# "measure, don't guess" applied to choosing b×r before a full LSH
# pass. Detection probability p = 1-(1-J^r)^b per pair; libm pow
# rounds to 6 dp before the (small) sums, final figures to 4 dp
# (q38/q168 discipline). Scale shape: the pair table is computed once
# (inverted-index join); the 4-row parameter grid broadcasts.
# ---------------------------------------------------------------------------
_LSH_GRID = ((4, 32), (8, 16), (16, 8), (32, 4))
_LSH_TARGET_J = 0.8


@query(
    "q176_lsh_parameter_plan",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS shingle
        FROM ({_SHINGLES_SQL})
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) AS j
        FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) p
        JOIN sizes sa ON p.id_a = sa.doc_id
        JOIN sizes sb ON p.id_b = sb.doc_id
        WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.1
    ),
    grid AS (
        SELECT unnest([{', '.join(str(b) for b, _ in _LSH_GRID)}]) AS bands,
               unnest([{', '.join(str(r) for _, r in _LSH_GRID)}]) AS rows_per_band
    ),
    scored AS (
        SELECT g.bands, g.rows_per_band, p.j,
               round(1 - pow(1 - pow(p.j, g.rows_per_band), g.bands), 6) AS p_detect
        FROM pairs p CROSS JOIN grid g
    )
    SELECT CAST(bands AS INT) AS bands,
           CAST(rows_per_band AS INT) AS rows_per_band,
           CAST(count(CASE WHEN j >= {_LSH_TARGET_J} THEN 1 END) AS BIGINT) AS n_target_pairs,
           round(sum(CASE WHEN j >= {_LSH_TARGET_J} THEN p_detect END)
                 / count(CASE WHEN j >= {_LSH_TARGET_J} THEN 1 END), 4) AS expected_recall,
           round(coalesce(sum(CASE WHEN j < {_LSH_TARGET_J} THEN p_detect END), 0), 4)
               AS expected_false_candidates
    FROM scored GROUP BY bands, rows_per_band
    """,
)
def q176_lsh_parameter_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.1, int_hash=True).select(
        F.col("jaccard").alias("j")
    )
    grid = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("bands"), F.lit(r).alias("rows_per_band")
                )
                for b, r in _LSH_GRID
            ]
        )
    ).alias("g")
    scored = pairs.select("j", grid).select(
        F.col("g.bands").alias("bands"),
        F.col("g.rows_per_band").alias("rows_per_band"),
        "j",
        F.round(
            F.lit(1)
            - F.pow(
                F.lit(1) - F.pow(F.col("j"), F.col("g.rows_per_band").cast("double")),
                F.col("g.bands").cast("double"),
            ),
            6,
        ).alias("p_detect"),
    )
    is_target = F.col("j") >= _LSH_TARGET_J
    return scored.groupBy("bands", "rows_per_band").agg(
        F.count(F.when(is_target, 1)).cast("bigint").alias("n_target_pairs"),
        F.round(
            F.sum(F.when(is_target, F.col("p_detect")))
            / F.count(F.when(is_target, 1)),
            4,
        ).alias("expected_recall"),
        F.round(
            F.coalesce(F.sum(F.when(~is_target, F.col("p_detect"))), F.lit(0.0)), 4
        ).alias("expected_false_candidates"),
    )


# ---------------------------------------------------------------------------
# q177 — per-source curation funnel: the q174 audit pivoted into the
# dashboard table a data owner reads (counts per stage + keep rate
# per source). One extra exchange over q174's output (groupBy
# source); conditional counts avoid a second pass per stage.
# ---------------------------------------------------------------------------
from pipeline_usnvc_spark.plans.registry import ORACLES as _ORACLES


@query(
    "q177_curation_funnel",
    oracle=f"""
    WITH audit AS ({_ORACLES["q174_curation_pipeline"]})
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN drop_stage = 'quality' THEN 1 END) AS BIGINT) AS n_quality,
           CAST(count(CASE WHEN drop_stage = 'exact_dup' THEN 1 END) AS BIGINT) AS n_exact_dup,
           CAST(count(CASE WHEN drop_stage = 'near_dup' THEN 1 END) AS BIGINT) AS n_near_dup,
           CAST(count(CASE WHEN drop_stage = 'quota' THEN 1 END) AS BIGINT) AS n_quota,
           CAST(count(CASE WHEN drop_stage = 'kept' THEN 1 END) AS BIGINT) AS n_kept,
           CAST(count(CASE WHEN drop_stage = 'kept' THEN 1 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS keep_rate
    FROM audit GROUP BY source
    """,
)
def q177_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.dedup_pipeline import curate

    audit = curate(
        load_table(spark, sf_dir, "documents"),
        jaccard_threshold=_CURATE_JACCARD,
        quota=_CURATE_QUOTA,
    )
    stage = lambda s: F.count(F.when(F.col("drop_stage") == s, 1)).cast("bigint")
    return audit.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        stage("quality").alias("n_quality"),
        stage("exact_dup").alias("n_exact_dup"),
        stage("near_dup").alias("n_near_dup"),
        stage("quota").alias("n_quota"),
        stage("kept").alias("n_kept"),
        (
            F.count(F.when(F.col("drop_stage") == "kept", 1)).cast("double")
            / F.count("*").cast("double")
        ).alias("keep_rate"),
    )


# ---------------------------------------------------------------------------
# q178 — semi-supervised label propagation. HASH-GREEN since round 13
# (VERDICT r12 item 2): the vote rule is pure integer/string
# arithmetic, so the bounded iteration unrolls to chained MATERIALIZED
# CTEs (_q178_oracle; q101's trick — MATERIALIZED because each stage
# reads its predecessor twice, and an inlining planner would expand
# the chain exponentially). A 10%-seed audited label set (source of
# every doc_id % 10 == 0) spreads over the shingle near-dup graph —
# the "label the corpus from a small audited sample" primitive. Each
# round is one join+agg with per-round checkpoints
# (connected-components scale shape); properties (clamped seeds,
# majority adoption, deterministic ties, unreached isolation) are
# asserted in tests/test_properties.
# ---------------------------------------------------------------------------
def _q178_oracle(max_iter: int = 10) -> str:
    """Chained-CTE unrolling of semi-supervised label propagation
    (VERDICT r12 item 2, the q101 trick): the operator's majority
    vote is pure integer/string arithmetic — counts, a (n DESC,
    label ASC) argmax, seed clamping — so a fixed unroll to
    ``max_iter`` stages is engine-exact. Early convergence needs no
    special-casing: a converged round recomputes the identical state
    (the vote rule is idempotent at fixpoint), so stage N equals the
    operator's early-stopped state. Edges are q99's exact int-shingle
    Jaccard pairs at threshold 0.2 (hash-green since r04)."""
    stages = []
    for i in range(1, max_iter + 1):
        stages.append(
            f"""s{i} AS MATERIALIZED (
        SELECT s.node,
               CASE WHEN s.is_seed THEN s.label
                    ELSE coalesce(b.new_label, s.label) END AS label,
               s.is_seed
        FROM s{i - 1} s LEFT JOIN (
            SELECT node, new_label FROM (
                SELECT sym.b AS node, st.label AS new_label,
                       row_number() OVER (PARTITION BY sym.b
                                          ORDER BY count(*) DESC, st.label)
                           AS rn
                FROM sym JOIN s{i - 1} st
                  ON st.node = sym.a AND st.label IS NOT NULL
                GROUP BY sym.b, st.label
            ) WHERE rn = 1
        ) b ON b.node = s.node
    )"""
        )
    joined = ",\n    ".join(stages)
    return f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS shingle
        FROM ({_SHINGLES_SQL})
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON inter.id_a = sa.doc_id
        JOIN sizes sb ON inter.id_b = sb.doc_id
        WHERE CAST(n_inter AS DOUBLE)
                / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.2
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM edges
        UNION
        SELECT id_b AS a, id_a AS b FROM edges
    ),
    s0 AS (
        SELECT doc_id AS node,
               CASE WHEN doc_id % 10 = 0 THEN source END AS label,
               (doc_id % 10 = 0) AS is_seed
        FROM documents
    ),
    {joined},
    clamp AS (
        SELECT CAST(count(*) AS BIGINT) AS n_seeds,
               CAST(coalesce(sum(CASE WHEN s.label IS NULL
                                        OR s.label <> d.source
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_seed_violations
        FROM documents d JOIN s{max_iter} s ON s.node = d.doc_id
        WHERE d.doc_id % 10 = 0
    )
    SELECT s.node, s.label,
           CASE WHEN s.is_seed THEN 'seed'
                WHEN s.label IS NOT NULL THEN 'propagated'
                ELSE 'unreached' END AS origin,
           c.n_seeds, c.n_seed_violations
    FROM s{max_iter} s CROSS JOIN clamp c
    """


@query("q178_label_propagation", oracle=_q178_oracle())
def q178_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.dedup import ngram_jaccard_pairs
    from pipeline_usnvc_spark.operators.graph import label_propagation

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.2, int_hash=True)
    nodes = docs.select(
        F.col("doc_id").alias("node"),
        F.when(F.col("doc_id") % 10 == 0, F.col("source")).alias("label"),
    )
    propagated = label_propagation(
        nodes, pairs.select("id_a", "id_b"), src="id_a", dst="id_b"
    )
    # Seed-clamp contract (VERDICT r03 item 4 + r4 review sweep):
    # audited seed nodes must come out PRESENT and with EXACTLY their
    # seed label — propagation may never overwrite (or drop) ground
    # truth. The check joins from the SEED side, so a seed missing
    # from the output counts as a violation (a propagated-side left
    # join would silently skip it), aggregates to one always-present
    # row, and rides a contract FILTER that executes under any
    # consumption (a bare assert column is pruned by count()).
    from pipeline_usnvc_spark.operators.contracts import contract_filter

    seeds = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("node"), F.col("source").alias("seed_label")
    )
    clamp = (
        seeds.join(
            propagated.select("node", F.col("label").alias("out_label")), "node", "left"
        )
        .agg(
            F.count("*").cast("bigint").alias("n_seeds"),
            F.sum(
                F.when(
                    F.col("out_label").isNull()
                    | (F.col("out_label") != F.col("seed_label")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_seed_violations"),
        )
    )
    return contract_filter(
        propagated.crossJoin(F.broadcast(clamp)),
        F.col("n_seed_violations") == 0,
        F.concat(
            F.lit("seed labels overwritten or dropped: "), F.col("n_seed_violations")
        ),
    )


# ---------------------------------------------------------------------------
# q187 — decontaminated train/eval split (the GPT-3/Pile discipline
# as a TRANSFORM, where q110 is the report): hash-split 80/20, then
# DROP any train document sharing ≥1 distinct 3-gram shingle with the
# eval set. Output assigns every doc a split ∈ train | eval |
# dropped_contaminated. Scale shape: the eval shingle set is the
# small side (20% of docs, distinct shingles only) of a left_semi
# join against train shingles — one shingle-keyed exchange; no
# pairwise work; deterministic md5 split (no RNG state). On this
# tiny-vocabulary synthetic corpus 3-gram overlap is dense (most
# train docs drop); production uses 13-grams, which only changes the
# word_shingles n — the plan shape is identical.
# ---------------------------------------------------------------------------
@query(
    "q187_decontaminated_split",
    oracle=f"""
    WITH bucketed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(md5(coalesce(array_to_string({_TOKS_SQL}, ' '), ''))), 1, 8) AS BIGINT) % 100 AS bucket
        FROM documents
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
    eval_sh AS (
        SELECT DISTINCT shingle FROM sh JOIN bucketed USING (doc_id)
        WHERE bucket >= 80
    ),
    contaminated AS (
        SELECT DISTINCT sh.doc_id FROM sh
        JOIN bucketed USING (doc_id)
        WHERE bucket < 80 AND shingle IN (SELECT shingle FROM eval_sh)
    )
    SELECT b.doc_id,
           CASE WHEN b.bucket >= 80 THEN 'eval'
                WHEN c.doc_id IS NOT NULL THEN 'dropped_contaminated'
                ELSE 'train' END AS split
    FROM bucketed b LEFT JOIN contaminated c ON b.doc_id = c.doc_id
    """,
)
def q187_decontaminated_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.pipelines.prepare import decontaminated_split

    # Examined r13, left alone: the fingerprint + shingle-explode map
    # pass executes once per consumer (eval_sh / contaminated subtrees
    # specialize differently, so no exchange reuse), but the duplicate
    # single-task stages run concurrently, so a fan_out repartition
    # below the duplicated subtree doubles the text shuffle and
    # measured SLOWER (interleaved A/B 1.9-2.2 s plain vs 2.7-2.8 s
    # spread). A shingle-grain checkpoint is corpus-sized at 100 TB —
    # the wrong trade (same reasoning as curate's staged frame).
    return decontaminated_split(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q188 — token-budget accounting: how many documents AND tokens each
# curation stage removes, and what survives for training — the number
# a pretraining run is actually planned around (token budget, not doc
# count). One groupBy of the q174 audit, which carries each document's
# token count; oracle embeds the q174 SQL, so the report is
# oracle-exact end-to-end.
# ---------------------------------------------------------------------------
@query(
    "q188_token_budget_report",
    oracle=f"""
    WITH audit AS ({_ORACLES["q174_curation_pipeline"]}),
    toks AS (
        SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens FROM documents
    )
    SELECT a.drop_stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t.n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(t.n_tokens) AS DOUBLE)
               / (SELECT CAST(sum(n_tokens) AS DOUBLE) FROM toks) AS token_share
    FROM audit a JOIN toks t ON a.doc_id = t.doc_id
    GROUP BY a.drop_stage
    """,
)
def q188_token_budget_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.dedup_pipeline import curate

    docs = load_table(spark, sf_dir, "documents")
    audit = curate(docs, jaccard_threshold=_CURATE_JACCARD, quota=_CURATE_QUOTA)
    per_stage = audit.groupBy("drop_stage").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    return per_stage.select(
        "drop_stage",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / total.cast("double")).alias("token_share"),
    )


# ---------------------------------------------------------------------------
# q189 — near-dup pair diagnostics: for every Jaccard ≥ 0.5 pair, the
# full similarity picture in one row — Jaccard, both containment
# directions, and the size ratio — the triage table a curator reads
# to decide between "true duplicate", "subset/boilerplate embed", and
# "coincidental overlap". ONE inverted-index pass produces all four
# numbers (the intersection count and both set sizes are already on
# the pair row); int/int divisions → oracle-exact.
# ---------------------------------------------------------------------------
@query(
    "q189_neardup_pair_diagnostics",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS shingle
        FROM ({_SHINGLES_SQL})
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) AS jaccard,
           CAST(n_inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS cont_a_in_b,
           CAST(n_inter AS DOUBLE) / CAST(sb.sz AS DOUBLE) AS cont_b_in_a,
           CAST(least(sa.sz, sb.sz) AS DOUBLE) / CAST(greatest(sa.sz, sb.sz) AS DOUBLE)
               AS size_ratio
    FROM inter
      JOIN sizes sa ON inter.id_a = sa.doc_id
      JOIN sizes sb ON inter.id_b = sb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5
    """,
)
def q189_neardup_pair_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(word_shingles(tokens("text")))).alias("s"),
        )
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint").alias(
                "shingle"
            ),
        )
        .distinct()
    )
    # sh feeds sizes plus BOTH self-join sides: materialize so the
    # tokenize + shingle + md5 map runs once, not three times (review
    # finding; the full n_inter/sz diagnostics need the raw counts, so
    # ngram_jaccard_pairs' jaccard-only contract can't serve here).
    from pipeline_usnvc_spark.operators.checkpoint import materialize

    sh = materialize(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb"))
    j = inter.join(sa, "id_a").join(sb, "id_b")
    jac = F.col("n_inter").cast("double") / (
        F.col("sza") + F.col("szb") - F.col("n_inter")
    ).cast("double")
    return j.select(
        "id_a",
        "id_b",
        jac.alias("jaccard"),
        (F.col("n_inter").cast("double") / F.col("sza").cast("double")).alias(
            "cont_a_in_b"
        ),
        (F.col("n_inter").cast("double") / F.col("szb").cast("double")).alias(
            "cont_b_in_a"
        ),
        (
            F.least("sza", "szb").cast("double")
            / F.greatest("sza", "szb").cast("double")
        ).alias("size_ratio"),
    ).filter(jac >= 0.5)


# ---------------------------------------------------------------------------
# q197 — training-shard packing: assign every document to one of 8
# shards balancing TOKEN load (big docs spread round-robin by
# size-descending rank), then report each shard's doc count, token
# sum, and load ratio vs the ideal 1/8 share — the writer-side step
# that keeps downstream training-data files evenly sized.
#
# Scale: the global size-descending row_number uses the two-phase
# range-exchange rank (operators/rank.with_global_rank, the q96
# machinery) — no single-partition window; the load ratio reads the
# grand total from a window over the 8-row aggregate, not a
# crossJoin(broadcast(agg)) re-scan.
# ---------------------------------------------------------------------------
@query(
    "q197_shard_pack",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
        FROM sized
    ),
    shards AS (
        SELECT CAST((rn - 1) % 8 AS INT) AS shard,
               count(*) AS n_docs, sum(n_tokens) AS shard_tokens
        FROM ranked GROUP BY (rn - 1) % 8
    )
    SELECT shard, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(shard_tokens AS BIGINT) AS shard_tokens,
           CAST(shard_tokens AS DOUBLE)
             / (CAST(sum(shard_tokens) OVER () AS DOUBLE) / 8.0) AS load_ratio
    FROM shards
    """,
)
def q197_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.rank import with_global_rank

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select("doc_id", token_count("text").alias("n_tokens"))
    ranked = with_global_rank(sized, F.desc("n_tokens"), "doc_id", rank_col="rn")
    shards = ranked.groupBy(
        ((F.col("rn") - 1) % 8).cast("int").alias("shard")
    ).agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("shard_tokens"))
    grand = F.sum("shard_tokens").over(Window.partitionBy())
    return shards.select(
        "shard",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("shard_tokens").cast("bigint").alias("shard_tokens"),
        (
            F.col("shard_tokens").cast("double") / (grand.cast("double") / F.lit(8.0))
        ).alias("load_ratio"),
    )


# ---------------------------------------------------------------------------
# q206 — the COMPOSED preparation pipeline (pipelines/prepare.py
# label_and_shard) as one oracle-verified query: curation gate →
# decontaminated 80/20 split → token-balanced 4-shard packing. The
# oracle embeds the full q174 SQL and the q187/q197 fragments, so the
# end-to-end product path (what prepare_training_data writes) is
# externally hash-checked, not just unit-tested.
# ---------------------------------------------------------------------------
def _q206_oracle() -> str:
    q174 = _ORACLES["q174_curation_pipeline"]
    return f"""
    WITH audit AS ({q174}),
    kept AS (
        SELECT d.doc_id
        FROM documents d JOIN audit a ON a.doc_id = d.doc_id
        WHERE a.drop_stage = 'kept'
    ),
    bucketed AS (
        SELECT d.doc_id,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
               CAST('0x' || substr(md5({_FP_SQL}), 1, 8) AS BIGINT) % 100 AS bucket
        FROM documents d JOIN kept USING (doc_id)
    ),
    sh AS (
        SELECT DISTINCT g.doc_id, g.shingle
        FROM ({_SHINGLES_SQL}) g JOIN kept k ON g.doc_id = k.doc_id
    ),
    eval_sh AS (
        SELECT DISTINCT shingle FROM sh JOIN bucketed USING (doc_id)
        WHERE bucket >= 80
    ),
    contaminated AS (
        SELECT DISTINCT sh.doc_id FROM sh
        JOIN bucketed USING (doc_id)
        WHERE bucket < 80 AND shingle IN (SELECT shingle FROM eval_sh)
    ),
    labelled AS (
        SELECT b.doc_id, b.n_tokens,
               CASE WHEN b.bucket >= 80 THEN 'eval'
                    WHEN c.doc_id IS NOT NULL THEN 'dropped_contaminated'
                    ELSE 'train' END AS split
        FROM bucketed b LEFT JOIN contaminated c ON b.doc_id = c.doc_id
    ),
    ranked AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
        FROM labelled WHERE split = 'train'
    )
    SELECT l.doc_id, l.split, l.n_tokens,
           CAST((r.rn - 1) % 4 AS INT) AS shard
    FROM labelled l LEFT JOIN ranked r ON r.doc_id = l.doc_id
    """


@query("q206_prepare_corpus", oracle=_q206_oracle())
def q206_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.dedup_pipeline import curate
    from pipeline_usnvc_spark.pipelines.prepare import label_and_shard

    docs = load_table(spark, sf_dir, "documents")
    return label_and_shard(
        docs,
        curate(docs, jaccard_threshold=_CURATE_JACCARD, quota=_CURATE_QUOTA),
        n_shards=4,
        eval_pct=20,
        include_text=False,  # metadata-only output: skip the text join
    ).select("doc_id", "split", "n_tokens", "shard")


# ---------------------------------------------------------------------------
# q211 — epoch upsampling plan: materialize the temperature-mix as
# concrete (doc, copy) training rows — small sources repeat more
# (Llama-style upsampling), each copy carrying a deterministic
# md5-derived shuffle key so the training order is reproducible
# without RNG state. Repeat factors derive from the q161 temperature
# shares against a fixed token budget; the explode is
# sequence()-based (no UDF) and the only shuffle is the final
# ordering the consumer applies.
# ---------------------------------------------------------------------------
@query(
    "q211_epoch_upsample",
    oracle=f"""
    WITH {_TEMPERATURE_CTES},
    factors AS (
        SELECT source, n_docs,
               CAST(greatest(1, ceil((w / (SELECT sum(w) FROM powed)) * 3000.0
                         / CAST(n_docs AS DOUBLE) - 1e-9)) AS INT) AS repeats
        FROM powed
    )
    SELECT d.doc_id, f.repeats,
           CAST(c.copy_idx AS INT) AS copy_idx,
           substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(c.copy_idx AS VARCHAR)), 1, 12)
             AS shuffle_key
    FROM documents d
    JOIN factors f ON f.source = d.source
    JOIN LATERAL (SELECT unnest(generate_series(1, f.repeats)) AS copy_idx) c ON TRUE
    """,
)
def q211_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    powed = _temperature_weights(docs)
    w_total = F.col("w_total")
    factors = powed.select(
        "source",
        # -1e-9 before ceil: the share×budget ratio can land EXACTLY
        # on an integer (uniform sources), where a 1-ulp cross-engine
        # pow/div difference would flip ceil by a whole copy per doc
        # greatest(1, ...): every source keeps at least one copy AND a
        # zero-repeat value would diverge between engines — Spark's
        # sequence(1, 0) defaults the step to -1 and yields [1, 0]
        # (two phantom copies incl. copy_idx=0) while DuckDB's
        # generate_series(1, 0) is empty
        F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(
                (F.col("w") / w_total) * F.lit(3000.0) / F.col("n_docs").cast("double")
                - F.lit(1e-9)
            ),
        )
        .cast("int")
        .alias("repeats"),
    )
    return (
        docs.join(F.broadcast(factors), "source")
        .select(
            "doc_id",
            "repeats",
            F.explode(F.sequence(F.lit(1), F.col("repeats"))).alias("copy_idx"),
        )
        .withColumn("copy_idx", F.col("copy_idx").cast("int"))
        .select(
            "doc_id",
            "repeats",
            "copy_idx",
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(":"), F.col("copy_idx").cast("string")
                    )
                ),
                1,
                12,
            ).alias("shuffle_key"),
        )
    )


# ---------------------------------------------------------------------------
# q217 — DSIR-style importance weights (Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling" — public
# method): score every document by how much its hashed-bigram
# distribution looks like the TARGET domain (here lang='en') versus
# the raw corpus, and select the top quartile. Exactness recipe: the
# per-bucket log-likelihood-ratio is computed ONCE per bucket from
# exact integer counts with Laplace smoothing, quantized to integer
# MICRO-units (round(ln·1e6) — the 6dp ln discipline), and per-doc
# scores are exact integer SUMS of those micro-LLRs, so no float is
# ever summed across rows.
#
# Scale shape: the feature space is 256 md5-derived buckets (the
# portable q140 hashing), so the "trained" importance model is a
# 256-row broadcast; scoring is a map-side explode + broadcast join +
# one doc-keyed exchange — document text never shuffles. The global
# top-quartile rank here is a single window over doc-grain metadata;
# at 100 TB the same selection runs through the two-phase
# range-exchange rank (operators/rank.py) or a threshold-on-weight.
# ---------------------------------------------------------------------------
_DSIR_B = 256
_DSIR_BUCKET_SQL = "CAST('0x' || substr(md5(bg), 1, 8) AS BIGINT) % 256"


@query(
    "q217_dsir_importance",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents),
    bg AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS bg
        FROM toks WHERE len(toks) >= 2
    ),
    bucketed AS (SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS b FROM bg),
    raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM bucketed GROUP BY b),
    tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM bucketed WHERE lang = 'en' GROUP BY b),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_raw,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
        FROM bucketed
    ),
    llr AS (
        SELECT r.b,
               CAST(round(ln(
                   (CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) * CAST(tot.n_raw + {_DSIR_B} AS DOUBLE))
                 / (CAST(r.cr + 1 AS DOUBLE) * CAST(tot.n_tgt + {_DSIR_B} AS DOUBLE))
               ) * 1000000.0) AS BIGINT) AS llr_micro
        FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tot
    ),
    scored AS (
        SELECT bk.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(l.llr_micro) AS BIGINT) AS log_w_micro
        FROM bucketed bk JOIN llr l ON l.b = bk.b
        GROUP BY bk.doc_id
    ),
    ranked AS (
        SELECT *,
               CAST(row_number() OVER (
                   ORDER BY CAST(log_w_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE) DESC,
                            doc_id
               ) AS BIGINT) AS rn,
               CAST(count(*) OVER () AS BIGINT) AS n_docs
        FROM scored
    )
    SELECT doc_id, n_bigrams,
           CAST(log_w_micro AS DOUBLE) / 1000000.0 AS log_weight,
           rn * 4 <= n_docs AS selected
    FROM ranked
    """,
)
def q217_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # No fan_out here (r13, examined): the bigram pass still executes
    # twice (model + scoring), so a repartition below it would shuffle
    # the text twice — the new_fan variant measured no better than
    # plain in the interleaved matrix.
    toks = docs.select("doc_id", "lang", tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    length = F.size("toks") - F.lit(1)
    pairs = F.zip_with(
        F.slice("toks", 1, length),
        F.slice("toks", 2, length),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bucketed = toks.select(
        "doc_id",
        "lang",
        F.explode(pairs).alias("bg"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("bigint") % _DSIR_B
        ).alias("b"),
    )
    # TWO map passes total (r13, second cut): the previous shape
    # aggregated to a (doc_id, lang, b) grain hoping AQE stage reuse
    # would run the bigram map pass once for its four consumers — the
    # event-log profile showed it executing per consumer anyway (four
    # single-task passes, 40 000 records read for a 10 000-doc table).
    # The model only needs BUCKET-grain statistics: one pass reduces
    # map-side to the 256-row (cr, ct) frame — raw, tgt AND the totals
    # all derive from those 256 rows, so three of the four passes
    # disappear without any data-grain checkpoint. The second pass
    # scores documents against the broadcast 256-row LLR table. All
    # sums are exact integer re-aggregations of the same per-bigram
    # counts, so every reported value is the identical integer.
    from pipeline_usnvc_spark.operators.checkpoint import materialize

    # r14: the 256-row bucket stats come back to the driver (bounded
    # by _DSIR_B, never the corpus — the q437/BPE bounded-collect
    # discipline) and the LLR table rides the scoring plan as a
    # 256-element LITERAL array whose log() expressions CONSTANT-FOLD
    # in the JVM (same java.lang.Math.log the runtime path evaluated,
    # so every llr_micro is the identical integer). This removes the
    # bstats checkpoint job, the totals aggregate and the broadcast
    # build — three single-task AQE stage-jobs of pure latency — and
    # the scoring pass becomes join-free.
    stats = bucketed.groupBy("b").agg(
        F.count("*").cast("bigint").alias("cr"),
        F.count(F.when(F.col("lang") == "en", True)).cast("bigint").alias("ct"),
    ).collect()  # bounded: <= _DSIR_B rows
    n_raw = sum(r["cr"] for r in stats)
    n_tgt = sum(r["ct"] for r in stats)
    by_b = {r["b"]: r for r in stats}
    llr_terms = []
    for b in range(_DSIR_B):
        r = by_b.get(b)
        if r is None:
            llr_terms.append("0L")  # bucket absent from the corpus: never indexed
        else:
            llr_terms.append(
                "cast(round(log(({ct} + 1.0d) * {nr}d / (({cr} + 1.0d) * {nt}d))"
                " * 1000000.0d) as bigint)".format(
                    ct=r["ct"], cr=r["cr"], nr=n_raw + _DSIR_B, nt=n_tgt + _DSIR_B
                )
            )
    llr_at = F.expr(
        "element_at(array(" + ", ".join(llr_terms) + "), cast(b + 1 as int))"
    )
    scored = (
        bucketed.groupBy("doc_id")
        .agg(
            # count == bigram count; sum over the literal LLR lookup ==
            # the per-bigram llr sum — identical integers on the same
            # per-bigram rows
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(llr_at).cast("bigint").alias("log_w_micro"),
        )
    )
    # Quartile selection via the two-phase range-exchange rank (no
    # single-partition Window at doc grain — same scale standard as
    # q96/q197/q246/q247). (avg llr desc, doc_id) is a total order, so
    # parity with the oracle's ROW_NUMBER is exact. scored is
    # materialized once: both the rank and the 1-row n_docs aggregate
    # consume it, and the bigram/LLR pipeline should not run twice.
    # (materialize is already imported above for bstats.)
    from pipeline_usnvc_spark.operators.rank import with_global_rank

    scored = materialize(scored)
    ranked = with_global_rank(
        scored,
        (F.col("log_w_micro").cast("double") / F.col("n_bigrams").cast("double")).desc(),
        F.col("doc_id"),
        rank_col="rn",
    ).crossJoin(
        F.broadcast(
            scored.agg(F.count("*").cast("bigint").alias("n_docs"))
        )
    )
    return ranked.select(
        "doc_id",
        "n_bigrams",
        (F.col("log_w_micro").cast("double") / F.lit(1000000.0)).alias("log_weight"),
        (F.col("rn") * 4 <= F.col("n_docs")).alias("selected"),
    )


# The Gopher metric frame + rule predicates, ONE definition each side:
# q218 (the production gate report) and q272 (the gate-agreement
# diagnostic) previously carried byte-identical copies of the metric
# select, the stopword list and all five rule predicates in both
# Spark and SQL (review finding) — a tweak to one would silently
# leave the agreement diagnostic measuring a stale gate.
_GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is")

_GOPHER_METRICS_SQL = f"""base AS (
        SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
               CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, b) -> a + b) AS BIGINT) AS sum_word_len,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_symbol_chars,
               CAST(len(list_filter(['the','a','of','to','and','in','is'], s -> list_contains(toks, s))) AS BIGINT) AS n_stopwords
        FROM base
    )"""

_GOPHER_RULES_SQL = {
    "ok_word_count": "n_words >= 50 AND n_words <= 100000",
    "ok_mean_word_len": (
        "n_words > 0 AND CAST(sum_word_len AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0"
        " AND CAST(sum_word_len AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0"
    ),
    "ok_symbol_ratio": "n_chars > 0 AND CAST(n_symbol_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) <= 0.3",
    "ok_stopwords": "n_stopwords >= 2",
    "ok_unique_ratio": "n_words > 0 AND CAST(n_unique AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.1",
}


def _gopher_metrics(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_unique, sum_word_len, n_chars,
    n_symbol_chars, n_stopwords) — the Spark mirror of
    _GOPHER_METRICS_SQL; one corpus scan, all codegen expressions."""
    t = docs.select("doc_id", "text", tokens("text").alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_words"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_unique"),
        F.aggregate(
            "toks", F.lit(0).cast("bigint"), lambda acc, tok: acc + F.length(tok)
        ).alias("sum_word_len"),
        F.length("text").cast("bigint").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
        )
        .cast("bigint")
        .alias("n_symbol_chars"),
        F.size(
            F.filter(
                F.array(*[F.lit(w) for w in _GOPHER_STOPWORDS]),
                lambda w: F.array_contains("toks", w),
            )
        )
        .cast("bigint")
        .alias("n_stopwords"),
    )


def _gopher_rules() -> dict:
    """rule-name -> boolean Column over a _gopher_metrics frame, in
    the q218 fail-mask bit order."""
    mean_len = F.col("sum_word_len").cast("double") / F.col("n_words").cast("double")
    sym_ratio = F.col("n_symbol_chars").cast("double") / F.col("n_chars").cast("double")
    return {
        "ok_word_count": (F.col("n_words") >= 50) & (F.col("n_words") <= 100000),
        "ok_mean_word_len": (F.col("n_words") > 0) & (mean_len >= 3.0) & (mean_len <= 10.0),
        "ok_symbol_ratio": (F.col("n_chars") > 0) & (sym_ratio <= 0.3),
        "ok_stopwords": F.col("n_stopwords") >= 2,
        "ok_unique_ratio": (F.col("n_words") > 0)
        & (F.col("n_unique").cast("double") / F.col("n_words").cast("double") >= 0.1),
    }


# ---------------------------------------------------------------------------
# q218 — Gopher-style quality-rules profile (Rae et al. 2021 §A1.1 —
# public heuristics): the multi-rule document gate with a per-rule
# breakdown and a reasons BITMASK, so downstream consumers can both
# filter (passed) and audit WHICH rule fired (the audit column a
# production corpus report needs). Rules adapted to the synthetic
# corpus: word count in [50, 100000]; mean word length in [3, 10];
# non-alphanumeric character ratio ≤ 0.3; ≥ 2 distinct stopwords
# present; unique-token ratio ≥ 0.1 (repetition proxy).
#
# Everything is native expressions over exact integers (the only
# divisions are int/int → double compared against constants, an
# identical expression tree on both engines). One scan, no shuffle at
# all until the (doc-grain) output — at 100 TB this is a pure
# map-side gate, exactly like the reference's row-local quality
# predicates (usnvc.py's null/type guards) writ large.
# ---------------------------------------------------------------------------
@query(
    "q218_gopher_quality_gate",
    oracle=f"""
    WITH {_GOPHER_METRICS_SQL},
    rules AS (
        SELECT doc_id, n_words, n_unique, n_stopwords,
               {", ".join(f"{sql} AS {name}" for name, sql in _GOPHER_RULES_SQL.items())}
        FROM m
    )
    SELECT doc_id, n_words, ok_word_count, ok_mean_word_len, ok_symbol_ratio,
           ok_stopwords, ok_unique_ratio,
           CAST(CASE WHEN ok_word_count THEN 0 ELSE 1 END
              + CASE WHEN ok_mean_word_len THEN 0 ELSE 2 END
              + CASE WHEN ok_symbol_ratio THEN 0 ELSE 4 END
              + CASE WHEN ok_stopwords THEN 0 ELSE 8 END
              + CASE WHEN ok_unique_ratio THEN 0 ELSE 16 END AS INT) AS fail_mask,
           ok_word_count AND ok_mean_word_len AND ok_symbol_ratio
               AND ok_stopwords AND ok_unique_ratio AS passed
    FROM rules
    """,
)
def q218_gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    m = _gopher_metrics(docs)
    rules = m.select(
        "doc_id",
        "n_words",
        "n_unique",
        "n_stopwords",
        *[col.alias(name) for name, col in _gopher_rules().items()],
    )
    fail_bit = lambda c, bit: F.when(F.col(c), 0).otherwise(bit)  # noqa: E731
    return rules.select(
        "doc_id",
        "n_words",
        "ok_word_count",
        "ok_mean_word_len",
        "ok_symbol_ratio",
        "ok_stopwords",
        "ok_unique_ratio",
        (
            fail_bit("ok_word_count", 1)
            + fail_bit("ok_mean_word_len", 2)
            + fail_bit("ok_symbol_ratio", 4)
            + fail_bit("ok_stopwords", 8)
            + fail_bit("ok_unique_ratio", 16)
        )
        .cast("int")
        .alias("fail_mask"),
        (
            F.col("ok_word_count")
            & F.col("ok_mean_word_len")
            & F.col("ok_symbol_ratio")
            & F.col("ok_stopwords")
            & F.col("ok_unique_ratio")
        ).alias("passed"),
    )


# ---------------------------------------------------------------------------
# q219 — BPE ENCODE: apply the merges learned by q171's trainer to
# tokenize the corpus — the missing half of the tokenizer story
# (train → apply). HASH-GREEN since round 13: the shared chained-CTE
# oracle (_bpe_cte_chain) already materializes the post-merge corpus
# state s5, which IS the encoding of every vocabulary word —
# _q219_oracle just reshapes it (top-20 by frequency + cnt-weighted
# corpus totals). Also SELF-CERTIFYING: every word carries a
# round-trip contract (concat(encoded symbols) == word) asserted
# in-plan via assert_true, and pytest (tests/test_bpe.py) checks
# encodings against a reference Python merge loop.
#
# Scale shape: encoding runs at VOCABULARY grain (distinct words —
# ≪ corpus by Heaps' law), as 5 chained native folds (merge_pair —
# whole-stage-codegen expressions, zero Python in the hot path); the
# corpus-grain numbers come from cnt-weighted sums of the word table.
# The merge table itself is a 5-row driver list (same bounded
# traffic as training). Output is word-grain top-20 by frequency plus
# the corpus totals on every row, all scalar columns.
# ---------------------------------------------------------------------------
@query("q219_bpe_encode", oracle=_q219_oracle())
def q219_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.bpe import train_bpe
    from pipeline_usnvc_spark.operators.contracts import contract_filter

    docs = load_table(spark, sf_dir, "documents")
    # train ONCE and read the final word-grain state back: training
    # already folds every learned merge into the vocabulary, so the
    # state IS the encoding — the old body re-collected the merge
    # table and re-applied all five folds over the vocab (measured
    # 10.5 s at sf0.1; the re-fold was ~40% of it)
    _, state = train_bpe(docs, n_merges=5, return_state=True)
    encoded = contract_filter(
        state.select(
            "word",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.length("word").cast("bigint").alias("n_chars_sym"),
            F.size("syms").cast("bigint").alias("n_tokens"),
            F.concat_ws(" ", "syms").alias("encoding"),
            (F.concat_ws("", "syms") == F.col("word")).alias("roundtrip_ok"),
        ),
        F.col("roundtrip_ok"),
        F.concat(F.lit("BPE round-trip failed for word: "), F.col("word")),
    )
    totals = encoded.agg(
        F.sum(F.col("cnt") * F.col("n_chars_sym")).cast("bigint").alias("corpus_chars"),
        F.sum(F.col("cnt") * F.col("n_tokens")).cast("bigint").alias("corpus_tokens"),
        F.count("*").cast("bigint").alias("vocab_size"),
    )
    return (
        encoded.orderBy(F.col("cnt").desc(), "word")
        .limit(20)
        .crossJoin(F.broadcast(totals))
    )


# ---------------------------------------------------------------------------
# q247 — cross-source quantile normalization (batch-effect correction
# for mixed-source quality scores — the multi-source companion to
# q204's single-distribution transform): each document's
# within-source rank maps to the POOLED score at the same quantile,
# so every source's score distribution aligns to the corpus-wide one.
# Exact: integer ranks on both grains (tie-free via doc_id), the
# quantile map is pure integer arithmetic (pooled_idx =
# ceil(r·N/n_s) as (r·N + n_s − 1) div n_s — no float boundary), and
# the mapped score joins back by integer index. Scale shape: one
# source-keyed window, one global two-phase-rankable window
# (doc-grain), one integer equi-join.
# ---------------------------------------------------------------------------
@query(
    "q247_quantile_normalize_sources",
    oracle="""
    WITH scored AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score FROM documents
    ),
    pooled AS (
        SELECT score AS pooled_score,
               CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT) AS pooled_idx
        FROM scored
    ),
    per_source AS (
        SELECT doc_id, source, score,
               CAST(row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS BIGINT) AS r,
               CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s,
               CAST(count(*) OVER () AS BIGINT) AS n_total
        FROM scored
    )
    SELECT p.doc_id, p.source, p.score,
           (p.r * p.n_total + p.n_s - 1) // p.n_s AS mapped_idx,
           q.pooled_score AS normalized_score
    FROM per_source p
    JOIN pooled q ON q.pooled_idx = (p.r * p.n_total + p.n_s - 1) // p.n_s
    """,
)
def q247_quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.rank import with_global_rank

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "source", F.col("n_chars").cast("bigint").alias("score"))
    # Two-phase range-exchange global rank (operators/rank.py) — the
    # r4 review caught the first draft's bare Window.orderBy, which
    # funnels the corpus through ONE task, plus a broadcast of the
    # corpus-grain pooled table; the pooled join is now a plain
    # integer equi-join and n_total comes from max(rank) (the q96
    # trick), not a second global window.
    pooled_ranked = with_global_rank(scored, "score", "doc_id", rank_col="pooled_idx")
    pooled = pooled_ranked.select(
        F.col("score").alias("pooled_score"),
        F.col("pooled_idx").cast("bigint").alias("pooled_idx"),
    )
    n_total = pooled_ranked.agg(F.max("pooled_idx").cast("bigint").alias("n_total"))
    w_src = Window.partitionBy("source").orderBy("score", "doc_id")
    per_source = scored.select(
        "doc_id",
        "source",
        "score",
        F.row_number().over(w_src).cast("bigint").alias("r"),
        F.count("*").over(Window.partitionBy("source")).cast("bigint").alias("n_s"),
    ).crossJoin(F.broadcast(n_total))
    mapped = F.expr("(r * n_total + n_s - 1) div n_s")
    return (
        per_source.withColumn("mapped_idx", mapped)
        .join(pooled, F.col("mapped_idx") == F.col("pooled_idx"))
        .select(
            "doc_id",
            "source",
            "score",
            "mapped_idx",
            F.col("pooled_score").alias("normalized_score"),
        )
    )


# ---------------------------------------------------------------------------
# q248 — MinHash estimator calibration: for every LSH candidate pair,
# the ESTIMATED Jaccard (shared minhashes / num_hashes) next to the
# EXACT shingle-set Jaccard, bucketed into a calibration table
# (estimate decile → mean exact similarity, both as exact-int-derived
# ratios). The estimator-quality report an LSH deployment needs
# before trusting its thresholds. Everything derives from exact
# integer counts; the per-bucket exact-Jaccard total is a BIGINT sum
# of per-pair ppm-scaled integer divisions (pure BIGINT — DuckDB's
# `//` on DECIMAL operands rounds where BIGINT floor-division
# truncates, a divergence this query's first draft hit) — no float
# is ever summed across rows.
# ---------------------------------------------------------------------------
@query(
    "q248_minhash_calibration",
    oracle=f"""
    WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
    mh AS ({_MINHASH_SQL}),
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared_hashes
        FROM mh a JOIN mh b
          ON a.seed = b.seed AND a.minhash = b.minhash AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.n_shared_hashes,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(c.n_shared_hashes AS DOUBLE) / 8.0 AS est_jaccard,
           CAST(sum((COALESCE(i.n_inter, 0) * 1000000)
                    // (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0))) AS BIGINT) AS sum_exact_jaccard_ppm
    FROM cand c
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    GROUP BY c.n_shared_hashes
    """,
)
def q248_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(tokens("text"), n=3))).alias("shingle"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_sh"))
    # The canonical zero-shuffle minhash operator — NOT an inline
    # re-implementation (operators/dedup._minhash_cols is "the ONE
    # definition of the hash family"; the r4 review caught a third
    # copy here, including a needless |shingles|x8 shuffle).
    from pipeline_usnvc_spark.operators.dedup import minhash_signatures

    mh = minhash_signatures(docs)
    a, b = mh.alias("a"), mh.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.seed") == F.col("b.seed"))
            & (F.col("a.minhash") == F.col("b.minhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").cast("bigint").alias("n_shared_hashes"))
    )
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        sa.join(
            sb,
            (F.col("sa.shingle") == F.col("sb.shingle"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(F.col("sa.doc_id").alias("id_a"), F.col("sb.doc_id").alias("id_b"))
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_sh_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_sh_b"))
    ppm = F.expr(
        "(coalesce(n_inter, 0) * 1000000) div (n_sh_a + n_sh_b - coalesce(n_inter, 0))"
    )
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        # sizes are doc-grain (corpus-proportional) — no broadcast
        # hint; AQE picks the strategy (r4 review).
        .join(za, "id_a")
        .join(zb, "id_b")
        .groupBy("n_shared_hashes")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(ppm).cast("bigint").alias("sum_exact_jaccard_ppm"),
        )
        .select(
            "n_shared_hashes",
            "n_pairs",
            (F.col("n_shared_hashes").cast("double") / F.lit(8.0)).alias("est_jaccard"),
            "sum_exact_jaccard_ppm",
        )
    )


# ---------------------------------------------------------------------------
# q263 — Neyman sample allocation with largest-remainder rounding:
# distribute a budget of 1000 samples across sources proportionally
# to N_h·S_h (stratum size × stddev of doc length — Neyman's optimal
# allocation), then round the fractional shares to integers with the
# largest-remainder method so the total is EXACTLY the budget.
# Exactness recipe: variances come from exact integer sufficient
# statistics (n, Σx, Σx² in DECIMAL(38,0)); S_h and the shares are
# identical double expressions; the remainder ranking is tie-broken
# by source so the +1 winners are deterministic at every sf.
# ---------------------------------------------------------------------------
_NEYMAN_BUDGET = 1000


@query(
    "q263_neyman_allocation",
    oracle=f"""
    WITH stats AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_h,
               CAST(sum(CAST(n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(sum(CAST(n_chars AS DECIMAL(38,0)) * CAST(n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx
        FROM documents GROUP BY source
    ),
    weighted AS (
        SELECT source, n_h,
               CAST(round(CAST(n_h AS DOUBLE) * sqrt(greatest(
                   (CAST(n_h AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   / (CAST(n_h AS DOUBLE) * CAST(n_h AS DOUBLE)), 0.0)) * 1000000.0) AS BIGINT) AS w_micro
        FROM stats
    ),
    shares AS (
        SELECT source, n_h, w_micro,
               CASE WHEN sum(w_micro) OVER () = 0
                    THEN {_NEYMAN_BUDGET}.0 / CAST(count(*) OVER () AS DOUBLE)
                    ELSE {_NEYMAN_BUDGET}.0 * CAST(w_micro AS DOUBLE)
                         / CAST(sum(w_micro) OVER () AS DOUBLE) END AS exact_share
        FROM weighted
    ),
    floored AS (
        SELECT source, n_h, w_micro, exact_share,
               CAST(floor(exact_share) AS BIGINT) AS base_alloc,
               exact_share - floor(exact_share) AS remainder,
               CAST({_NEYMAN_BUDGET} - sum(CAST(floor(exact_share) AS BIGINT)) OVER () AS BIGINT) AS leftover
        FROM shares
    )
    SELECT source, n_h, base_alloc, remainder,
           base_alloc + CASE WHEN CAST(row_number() OVER (ORDER BY remainder DESC, source) AS BIGINT) <= leftover
                             THEN 1 ELSE 0 END AS allocation
    FROM floored
    """,
)
def q263_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_h"),
        F.sum(_d38(F.col("n_chars"))).cast("decimal(38,0)").alias("sx"),
        F.sum(_d38(F.col("n_chars")) * _d38(F.col("n_chars"))).cast("decimal(38,0)").alias("sxx"),
    )
    nd = F.col("n_h").cast("double")
    var = F.greatest(
        (nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        / (nd * nd),
        F.lit(0.0),
    )
    # Weights quantize to integer MICRO-units before the cross-row sum
    # (summing raw doubles across rows is fold-order dependent — the
    # suite-wide exact-sum discipline).
    weighted = stats.select(
        "source",
        "n_h",
        F.round(nd * F.sqrt(var) * F.lit(1000000.0)).cast("bigint").alias("w_micro"),
    )
    w_all = Window.partitionBy(F.lit(1))
    # All-zero weights (every stratum zero-variance) would make the
    # share 0/0 — fall back to equal allocation (r4 review guard).
    shares = weighted.withColumn(
        "exact_share",
        F.when(
            F.sum("w_micro").over(w_all) == 0,
            F.lit(float(_NEYMAN_BUDGET)) / F.count("*").over(w_all).cast("double"),
        ).otherwise(
            F.lit(float(_NEYMAN_BUDGET))
            * F.col("w_micro").cast("double")
            / F.sum("w_micro").over(w_all).cast("double")
        ),
    )
    floored = (
        shares.withColumn("base_alloc", F.floor("exact_share").cast("bigint"))
        .withColumn("remainder", F.col("exact_share") - F.floor("exact_share"))
        .withColumn(
            "leftover",
            (F.lit(_NEYMAN_BUDGET) - F.sum("base_alloc").over(w_all)).cast("bigint"),
        )
    )
    w_rank = Window.orderBy(F.col("remainder").desc(), F.col("source"))
    return floored.select(
        "source",
        "n_h",
        "base_alloc",
        "remainder",
        (
            F.col("base_alloc")
            + F.when(
                F.row_number().over(w_rank).cast("bigint") <= F.col("leftover"), 1
            ).otherwise(0)
        ).alias("allocation"),
    )


# ---------------------------------------------------------------------------
# q272 — quality-gate agreement: confusion matrix + Cohen's kappa
# between the C4-style gate (q36 rule: token count 20..2000, punct
# ratio ≤ 0.3) and the Gopher-style gate (q218 rules) over the same
# corpus — the label-noise / gate-calibration diagnostic you run
# before trusting either filter. All four cells are exact integer
# counts; kappa is the identical closed-form double expression of
# those integers on both engines.
# ---------------------------------------------------------------------------
@query(
    "q272_gate_agreement",
    oracle=f"""
    WITH {_GOPHER_METRICS_SQL},
    gates AS (
        SELECT doc_id,
               n_words >= 20 AND n_words <= 2000
                   AND (n_chars = 0 OR CAST(n_symbol_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) <= 0.3) AS c4_pass,
               {" AND ".join(f"({sql})" for sql in _GOPHER_RULES_SQL.values())} AS gopher_pass
        FROM m
    ),
    cm AS (
        SELECT CAST(sum(CASE WHEN c4_pass AND gopher_pass THEN 1 ELSE 0 END) AS BIGINT) AS both_pass,
               CAST(sum(CASE WHEN c4_pass AND NOT gopher_pass THEN 1 ELSE 0 END) AS BIGINT) AS c4_only,
               CAST(sum(CASE WHEN NOT c4_pass AND gopher_pass THEN 1 ELSE 0 END) AS BIGINT) AS gopher_only,
               CAST(sum(CASE WHEN NOT c4_pass AND NOT gopher_pass THEN 1 ELSE 0 END) AS BIGINT) AS both_fail,
               CAST(count(*) AS BIGINT) AS n
        FROM gates
    )
    SELECT both_pass, c4_only, gopher_only, both_fail, n,
           CAST(both_pass + both_fail AS DOUBLE) / CAST(n AS DOUBLE) AS observed_agreement,
           CASE WHEN (CAST(both_pass + c4_only AS DOUBLE) * CAST(both_pass + gopher_only AS DOUBLE)
                      + CAST(gopher_only + both_fail AS DOUBLE) * CAST(c4_only + both_fail AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) = 1.0
                THEN 1.0
                ELSE (CAST(both_pass + both_fail AS DOUBLE) / CAST(n AS DOUBLE)
                      - (CAST(both_pass + c4_only AS DOUBLE) * CAST(both_pass + gopher_only AS DOUBLE)
                         + CAST(gopher_only + both_fail AS DOUBLE) * CAST(c4_only + both_fail AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                     / (1.0 - (CAST(both_pass + c4_only AS DOUBLE) * CAST(both_pass + gopher_only AS DOUBLE)
                               + CAST(gopher_only + both_fail AS DOUBLE) * CAST(c4_only + both_fail AS DOUBLE))
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
           END AS cohen_kappa
    FROM cm
    """,
)
def q272_gate_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    docs = load_table(spark, sf_dir, "documents")
    m = _gopher_metrics(docs)
    sym_ratio = F.col("n_symbol_chars").cast("double") / F.col("n_chars").cast("double")
    c4 = (
        (F.col("n_words") >= 20)
        & (F.col("n_words") <= 2000)
        & ((F.col("n_chars") == 0) | (sym_ratio <= 0.3))
    )
    gopher = reduce(lambda a, b: a & b, _gopher_rules().values())
    gates = m.select("doc_id", c4.alias("c4_pass"), gopher.alias("gopher_pass"))
    cell = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")  # noqa: E731
    cm = gates.agg(
        cell(F.col("c4_pass") & F.col("gopher_pass")).alias("both_pass"),
        cell(F.col("c4_pass") & ~F.col("gopher_pass")).alias("c4_only"),
        cell(~F.col("c4_pass") & F.col("gopher_pass")).alias("gopher_only"),
        cell(~F.col("c4_pass") & ~F.col("gopher_pass")).alias("both_fail"),
        F.count("*").cast("bigint").alias("n"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("both_pass") + F.col("both_fail")).cast("double") / nd
    pe = (
        (F.col("both_pass") + F.col("c4_only")).cast("double")
        * (F.col("both_pass") + F.col("gopher_only")).cast("double")
        + (F.col("gopher_only") + F.col("both_fail")).cast("double")
        * (F.col("c4_only") + F.col("both_fail")).cast("double")
    ) / (nd * nd)
    # pe == 1 (every doc in one expected cell) makes kappa 0/0: Spark
    # non-ANSI divide yields NULL, DuckDB NaN — guard with the
    # conventional kappa := 1 for complete agreement (r4 review).
    return cm.select(
        "both_pass",
        "c4_only",
        "gopher_only",
        "both_fail",
        "n",
        po.alias("observed_agreement"),
        F.when(pe == 1.0, F.lit(1.0))
        .otherwise((po - pe) / (F.lit(1.0) - pe))
        .alias("cohen_kappa"),
    )


# ---------------------------------------------------------------------------
# q301 — cumulative gains (lift) table for a ranking signal: rank
# documents by a quality proxy (n_chars, tie-broken by doc_id), cut
# into deciles, and report each decile's capture of the positive
# class (lang = 'en') plus cumulative recall and lift vs random —
# the standard model-eval read for any scoring function. All counts
# exact ints (tie-free ntile); ratios are identical double
# divisions of exact ints.
# ---------------------------------------------------------------------------
@query(
    "q301_lift_table",
    oracle="""
    WITH scored AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS positive,
               CAST(ntile(10) OVER (ORDER BY n_chars DESC, doc_id) AS INT) AS decile
        FROM documents
    ),
    per_decile AS (
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(positive) AS BIGINT) AS n_pos
        FROM scored GROUP BY decile
    ),
    tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
               CAST(sum(n_pos) AS BIGINT) AS total_pos
        FROM per_decile
    ),
    cum AS (
        SELECT decile, n_docs, n_pos,
               CAST(sum(n_pos) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos,
               CAST(sum(n_docs) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs
        FROM per_decile
    )
    SELECT c.decile, c.n_docs, c.n_pos,
           CAST(c.cum_pos AS DOUBLE) / CAST(t.total_pos AS DOUBLE) AS cum_recall,
           (CAST(c.cum_pos AS DOUBLE) / CAST(t.total_pos AS DOUBLE))
             / (CAST(c.cum_docs AS DOUBLE) / CAST(t.total_docs AS DOUBLE)) AS cum_lift
    FROM cum c CROSS JOIN tot t
    """,
)
def q301_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Doc-grain deciles via two-phase global rank + map-side NTILE —
    # no single-partition ntile window over the corpus.
    from pipeline_usnvc_spark.operators.checkpoint import materialize
    from pipeline_usnvc_spark.operators.rank import ntile_from_rank, with_global_rank

    base = materialize(
        docs.select(
            "doc_id",
            "n_chars",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("positive"),
        )
    )
    n = base.agg(F.count("*").cast("bigint").alias("_n"))
    scored = (
        with_global_rank(base, F.col("n_chars").desc(), F.col("doc_id"), rank_col="_r")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "positive",
            ntile_from_rank(F.col("_r"), F.col("_n"), 10).alias("decile"),
        )
    )
    per_decile = scored.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("positive").cast("bigint").alias("n_pos"),
    )
    tot = per_decile.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.sum("n_pos").cast("bigint").alias("total_pos"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_decile.select(
        "decile",
        "n_docs",
        "n_pos",
        F.sum("n_pos").over(wc).cast("bigint").alias("cum_pos"),
        F.sum("n_docs").over(wc).cast("bigint").alias("cum_docs"),
    )
    recall = F.col("cum_pos").cast("double") / F.col("total_pos").cast("double")
    return cum.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_docs",
        "n_pos",
        recall.alias("cum_recall"),
        (
            recall
            / (F.col("cum_docs").cast("double") / F.col("total_docs").cast("double"))
        ).alias("cum_lift"),
    )


# ---------------------------------------------------------------------------
# q311 — weighted sampling WITHOUT replacement (Efraimidis–Spirakis):
# take a deterministic k=100 sample where inclusion probability is
# proportional to document length, via the classic one-pass key
# key_i = ln(u_i) / w_i with u_i an md5-derived uniform — the
# distributed-sampling primitive (q69 covers the with-replacement
# variant; this is the without-replacement top-k form that runs as
# ONE TakeOrdered pass at any scale). Determinism: u from the
# portable md5 arithmetic, the ES key rounded to 9 dp on both
# engines before ranking (ln last-ulp discipline), rank ties broken
# by doc_id.
# ---------------------------------------------------------------------------
@query(
    "q311_weighted_sample_wr",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
               round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':es'), 1, 8) AS BIGINT) + 1.0)
                        / 4294967297.0)
                     / CAST(n_chars AS DOUBLE), 9) AS es_key
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, weight, es_key,
           CAST(rank AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (ORDER BY es_key DESC, doc_id) AS rank
        FROM keyed
    ) WHERE rank <= 100
    """,
)
def q311_weighted_sample_wr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u_int = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":es"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    es_key = F.round(
        F.log((u_int.cast("double") + F.lit(1.0)) / F.lit(4294967297.0))
        / F.col("n_chars").cast("double"),
        9,
    )
    keyed = docs.select(
        "doc_id", F.col("n_chars").cast("bigint").alias("weight"), es_key.alias("es_key")
    )
    # Top-100 via sort-limit (Spark's TakeOrderedAndProject: parallel
    # per-partition top-100 + a 100-row driver merge — no global
    # window, no single-partition sort), then rank within the 100-row
    # result (trivially small window).
    top = keyed.orderBy(F.col("es_key").desc(), F.col("doc_id")).limit(100)
    w = Window.orderBy(F.col("es_key").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# q260 — token budget by quality band: bucket documents by their
# stopword-ratio quality signal (1-dp bands) and report each band's
# document and token mass plus the cumulative token budget available
# at-or-above the band — the "how many tokens survive threshold t"
# curve a data-mixing plan reads before setting its gate. One doc
# scan → band-grain rollup; the cumulative window runs over ≤ 11
# band rows. Exact integer token sums throughout.
# ---------------------------------------------------------------------------
@query(
    "q260_quality_token_budget",
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN len(toks) > 0
                    THEN round(CAST(len(list_filter(toks, t -> t IN
                        ('the','a','of','and','to','in','is','that','it','was'))) AS DOUBLE)
                        / CAST(len(toks) AS DOUBLE), 1)
                    ELSE 0.0 END AS band,
               CAST(len(toks) AS BIGINT) AS n_tokens
        FROM (SELECT {_TOKS_SQL} AS toks FROM documents)
    ),
    bands AS (
        SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS band_tokens
        FROM scored GROUP BY band
    )
    SELECT band, n_docs, band_tokens,
           CAST(sum(band_tokens) OVER (ORDER BY band DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens_at_or_above
    FROM bands
    """,
)
def q260_quality_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from pipeline_usnvc_spark.functions.text import tokens

    stop = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "was"]
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tok = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(stop)))
    band = F.when(
        n_tok > 0, F.round(hits.cast("double") / n_tok.cast("double"), 1)
    ).otherwise(F.lit(0.0))
    bands = docs.select(
        band.alias("band"), n_tok.cast("bigint").alias("n_tokens")
    ).groupBy("band").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("band_tokens"),
    )
    # cumulative over ≤ 11 band rows, not documents
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return bands.withColumn(
        "cum_tokens_at_or_above", F.sum("band_tokens").over(w).cast("bigint")
    )


# ---------------------------------------------------------------------------
# q339 — T5-style span corruption plan: deterministic mask-span
# selection over each document's token stream (span STARTS where
# md5(doc_id:pos) lands in a 1/7 bucket; each start masks a 3-token
# span), reported as the per-document corruption audit (token count,
# masked count, span count, corruption rate). The "prepare denoising
# targets" step of a T5/UL2 data pipeline, fully engine-portable
# because the randomness is hashed, not drawn. One posexplode + one
# doc-keyed window (rows between 2 preceding) — token grain never
# leaves its document partition.
# ---------------------------------------------------------------------------
@query(
    "q339_span_corruption",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(
                   string_split_regex(lower(text), '[^a-zA-Z0-9]+'), t -> t <> '')) AS tok,
               generate_subscripts(list_filter(
                   string_split_regex(lower(text), '[^a-zA-Z0-9]+'), t -> t <> ''), 1) AS pos
        FROM documents
    ),
    flagged AS (
        SELECT doc_id, pos,
               CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 8) AS BIGINT) % 7 = 0
                    THEN 1 ELSE 0 END AS is_start
        FROM toks
    ),
    masked AS (
        SELECT doc_id, pos, is_start,
               max(is_start) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS is_masked
        FROM flagged
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(is_start) AS BIGINT) AS n_spans,
           CAST(sum(is_masked) AS BIGINT) AS n_masked,
           CASE WHEN count(*) > 0
                THEN round(CAST(sum(is_masked) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                ELSE NULL END AS corruption_rate
    FROM masked GROUP BY doc_id
    """,
)
def q339_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"))
    flagged = toks.select(
        "doc_id",
        "pos",
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.col("pos").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 7
            == 0,
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-2, 0)
    masked = flagged.withColumn("is_masked", F.max("is_start").over(w))
    return masked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("is_start").cast("bigint").alias("n_spans"),
        F.sum("is_masked").cast("bigint").alias("n_masked"),
        F.when(
            F.count("*") > 0,
            F.round(
                F.sum("is_masked").cast("double") / F.count("*").cast("double"), 6
            ),
        ).alias("corruption_rate"),
    )
