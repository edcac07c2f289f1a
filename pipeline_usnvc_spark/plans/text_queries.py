"""Text-analysis queries over the ``documents`` corpus (LLM-pipeline
operators: token counting, language ID, quality scoring, document
fingerprinting). All are native column expressions (functions/text.py)
— no Python in the hot path — and each has an exact DuckDB oracle that
re-states the same tokenization and integer/IEEE arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline_usnvc_spark.functions.text import (
    _LANG_MARKERS,
    doc_fingerprint,
    lang_id,
    quality_score_cols,
    token_count,
    tokens,
)
from pipeline_usnvc_spark.plans.registry import _d38, query
from pipeline_usnvc_spark.sources.tables import load_table

# Shared DuckDB fragment: identical tokenization to functions.text.tokens
from pipeline_usnvc_spark.functions.text import TOKENIZE_SQL as _TOKS_SQL


# ---------------------------------------------------------------------------
# q30 — token counting.
# ---------------------------------------------------------------------------
@query(
    "q30_token_count",
    oracle=f"""
    SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def q30_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count("text").alias("n_tokens"))


# ---------------------------------------------------------------------------
# q31 — language ID: argmax of stopword-marker hits with fixed tie
# order (en > de > fr > es), 'und' when no marker hits at all.
# ---------------------------------------------------------------------------
def _lang_score_sql(markers: list[str]) -> str:
    quoted = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter(toks, t -> t IN ({quoted})))"


_L = {lang: _lang_score_sql(m) for lang, m in _LANG_MARKERS.items()}

@query(
    "q31_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           CASE
             WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
             WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
             WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
             WHEN s_es > 0 THEN 'es'
             ELSE 'und'
           END AS detected_lang
    FROM (
        SELECT doc_id, lang,
               {_L['en']} AS s_en, {_L['de']} AS s_de, {_L['fr']} AS s_fr, {_L['es']} AS s_es
        FROM (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents)
    )
    """,
)
def q31_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_id("text").alias("detected_lang"),
    )


# ---------------------------------------------------------------------------
# q32 — quality scoring: length/token/punctuation/stopword signals.
# All ratios are int/int → double (IEEE-identical in both engines).
# ---------------------------------------------------------------------------
@query(
    "q32_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CASE WHEN len(toks) > 0
                THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
           END AS mean_token_len,
           CASE WHEN length(text) > 0
                THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
                ELSE 0.0 END AS punct_ratio,
           CASE WHEN len(toks) > 0
                THEN CAST({_L['en']} AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                ELSE 0.0 END AS stopword_ratio
    FROM (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
    """,
)
def q32_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cols = quality_score_cols("text")
    # Match the oracle's IEEE ops exactly: ratios are cast-to-double
    # divisions of exact integers.
    return docs.select(
        "doc_id",
        cols["n_chars"].alias("n_chars"),
        cols["n_tokens"].alias("n_tokens"),
        cols["mean_token_len"].alias("mean_token_len"),
        cols["punct_ratio"].alias("punct_ratio"),
        cols["stopword_ratio"].alias("stopword_ratio"),
    )


# ---------------------------------------------------------------------------
# q36 — quality-filter pipeline (C4-style corpus gate): keep documents
# passing token-count / stopword / punctuation thresholds; emit the
# verdict + failing rule for the audit trail. All-integer/IEEE rules.
# ---------------------------------------------------------------------------
@query(
    "q36_quality_filter",
    oracle=f"""
    SELECT doc_id,
           CASE
             WHEN n_tokens < 20 THEN 'too_short'
             WHEN n_tokens > 2000 THEN 'too_long'
             WHEN punct_ratio > 0.3 THEN 'too_much_punct'
             ELSE 'kept'
           END AS verdict
    FROM (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CASE WHEN length(text) > 0
                    THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
                    ELSE 0.0 END AS punct_ratio
        FROM (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
    )
    """,
)
def q36_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cols = quality_score_cols("text")
    scored = docs.select("doc_id", cols["n_tokens"].alias("n_tokens"), cols["punct_ratio"].alias("punct_ratio"))
    verdict = (
        F.when(F.col("n_tokens") < 20, F.lit("too_short"))
        .when(F.col("n_tokens") > 2000, F.lit("too_long"))
        .when(F.col("punct_ratio") > 0.3, F.lit("too_much_punct"))
        .otherwise(F.lit("kept"))
    )
    return scored.select("doc_id", verdict.alias("verdict"))


# ---------------------------------------------------------------------------
# q38 — per-source corpus statistics: token Shannon entropy (diversity
# signal for source weighting). Probabilities are exact int ratios;
# each c*ln(c) term is quantized to an INTEGER micro value
# (round(1e6*x), the q217 idiom) and summed exactly as DECIMAL(38,0),
# so the cross-row sum is fold-order deterministic at any executor
# count — entropy = ln(N) - micro_sum/1e6/N, both engines computing
# the identical rounded integers.
# ---------------------------------------------------------------------------
@query(
    "q38_source_entropy",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({_TOKS_SQL}) AS term FROM documents
    ),
    counts AS (SELECT source, term, count(*) AS c FROM tok GROUP BY source, term),
    totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY source)
    SELECT c.source,
           t.n AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct_terms,
           round(ln(CAST(t.n AS DOUBLE))
                 - (CAST(sum(CAST(round(1000000.0 * CAST(c.c AS DOUBLE) * ln(CAST(c.c AS DOUBLE))) AS HUGEINT)) AS DOUBLE) / 1000000.0)
                   / CAST(t.n AS DOUBLE), 4) AS entropy
    FROM counts c JOIN totals t ON c.source = t.source
    GROUP BY c.source, t.n
    """,
)
def q38_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("term"))
    counts = tok.groupBy("source", "term").agg(F.count("*").alias("c"))
    totals = counts.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    joined = counts.join(totals, "source")
    return joined.groupBy("source", "n").agg(
        F.count("*").cast("bigint").alias("n_distinct_terms"),
        F.round(
            F.log(F.col("n").cast("double"))
            - (
                F.sum(
                    F.round(
                        F.lit(1000000.0)
                        * F.col("c").cast("double")
                        * F.log(F.col("c").cast("double"))
                    ).cast("decimal(38,0)")
                ).cast("double")
                / F.lit(1000000.0)
            )
            / F.col("n").cast("double"),
            4,
        ).alias("entropy"),
    ).select(
        "source", F.col("n").alias("n_tokens"), "n_distinct_terms", "entropy"
    )


# ---------------------------------------------------------------------------
# q37 — deterministic train/eval split: hash-based assignment
# (md5-derived bucket 0-99 → 80/10/10) is reproducible across runs and
# engines, unlike Bernoulli sampling — the way a training pipeline
# pins its splits. Keyed on the content fingerprint, not the id, so
# exact duplicates land in the same split (no train/eval leakage).
# ---------------------------------------------------------------------------
@query(
    "q37_train_eval_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
    FROM (
        SELECT doc_id,
               CAST('0x' || substr(md5(md5(coalesce(array_to_string({_TOKS_SQL}, ' '), ''))), 1, 8) AS BIGINT) % 100 AS bucket
        FROM documents
    )
    """,
)
def q37_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(doc_fingerprint("text")), 1, 8), 16, 10).cast("bigint") % 100
    )
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select("doc_id", split.alias("split"))


# ---------------------------------------------------------------------------
# q33 — document fingerprint: md5 over the normalized token stream
# (the exact-dedup key; scale note in functions/text.py).
# ---------------------------------------------------------------------------
@query(
    "q33_fingerprint",
    oracle=f"""
    SELECT doc_id, md5(coalesce(array_to_string({_TOKS_SQL}, ' '), '')) AS fingerprint
    FROM documents
    """,
)
def q33_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint("text").alias("fingerprint"))


# ---------------------------------------------------------------------------
# q39 — deterministic stratified sampling: per-language keep rates
# (upsample low-resource languages), keyed on md5(doc_id) so the
# sample is reproducible across runs/engines — the set-based stand-in
# for sampleBy() that a training-data pipeline can re-run idempotently
# at 100 TB (no RNG state, embarrassingly parallel, no shuffle).
# ---------------------------------------------------------------------------
_STRATA_RATES = {"en": 10, "fr": 30, "de": 50, "es": 70, "zh": 100}


@query(
    "q39_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket
        FROM documents
    )
    WHERE bucket < CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_RATES.items())} ELSE 0 END
    """,
)
def q39_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("bigint")
        % 100
    )
    rate = F.lit(0)
    for lang, pct in _STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return docs.filter(bucket < rate).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# q68 — token-count estimators: whitespace tokens and a BPE-ish
# GPT-2-style pre-tokenizer regex (runs of letters / digits /
# punctuation, each absorbing one leading space). Both RE2 (DuckDB)
# and Java regex (Spark) use leftmost-first alternation, so the match
# sequences are identical. chars_per_token is one double division of
# identical operands — bit-equal, no rounding needed.
# ---------------------------------------------------------------------------
_BPE_RE = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \\t\\n]+"


@query(
    "q68_bpe_token_estimate",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
           CAST(length(text) AS DOUBLE)
             / CAST(greatest(len(regexp_extract_all(text, '{_BPE_RE}')), 1) AS DOUBLE) AS chars_per_token
    FROM documents
    """,
)
def q68_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(_BPE_RE.replace("\\t", "\t").replace("\\n", "\n")), F.lit(0))
    n_bpe = F.size(bpe).cast("bigint")
    n_ws = F.size(
        F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
    ).cast("bigint")
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        (
            F.length("text").cast("double")
            / F.greatest(n_bpe, F.lit(1).cast("bigint")).cast("double")
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# q69 — deterministic weighted priority sample: top-10 docs per lang
# by priority u/w, where u is a 32-bit md5-derived uniform and
# w = n_chars (longer docs proportionally likelier). The training-mix
# primitive: reproducible across engines and runs (no RNG state), one
# IEEE double division so both engines rank identical values. Larger
# weight → smaller expected priority → selected.
# ---------------------------------------------------------------------------
@query(
    "q69_weighted_sample",
    oracle="""
    SELECT doc_id, lang, priority FROM (
        SELECT doc_id, lang,
               CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
                 / CAST(greatest(n_chars, 1) AS DOUBLE) AS priority,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
                              / CAST(greatest(n_chars, 1) AS DOUBLE), doc_id
               ) AS rk
        FROM documents
    ) WHERE rk <= 10
    """,
)
def q69_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ).cast("double")
    priority = u / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    w = W.partitionBy("lang").orderBy("priority", "doc_id")
    return (
        docs.select("doc_id", "lang", priority.alias("priority"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("doc_id", "lang", "priority")
    )


# ---------------------------------------------------------------------------
# q89 — BM25 relevance ranking of the corpus against a fixed query
# (terms: spark, window, join, vector, stream; k1=1.2, b=0.75) — the
# classic retrieval scorer a training-data pipeline uses for
# quality/topicality filtering. Shape: one per-doc projection (tf per
# term + doc length), ONE global aggregate for corpus stats (N,
# avg dl, per-term df) broadcast back, then a pure map-side score —
# no per-term shuffle, no join per query term. Scores are round()ed
# to 6dp BEFORE ranking (ln() differs in the last ulp across libm
# implementations; everything else — divisions, fixed-order sums —
# is IEEE-identical), making the rank and the emitted score exact
# across engines.
# ---------------------------------------------------------------------------
_BM25_TERMS = ["spark", "window", "join", "vector", "stream"]
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_oracle() -> str:
    tf_defs = ",\n               ".join(
        f"len(list_filter(toks, t -> t = '{w}')) AS tf_{w}" for w in _BM25_TERMS
    )
    df_defs = ", ".join(
        f"CAST(sum(CASE WHEN tf_{w} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{w}"
        for w in _BM25_TERMS
    )
    terms = " + ".join(
        f"ln(1 + (n_docs - df_{w} + 0.5) / (df_{w} + 0.5))"
        f" * (CAST(tf_{w} AS DOUBLE) * 2.2)"
        f" / (CAST(tf_{w} AS DOUBLE) + 1.2 * (1 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))"
        for w in _BM25_TERMS
    )
    return f"""
    WITH perdoc AS (
        SELECT doc_id, len(toks) AS dl,
               {tf_defs}
        FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
    ),
    stats AS (
        SELECT count(*) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
               {df_defs}
        FROM perdoc
    )
    SELECT doc_id, score_r6,
           CAST(row_number() OVER (ORDER BY score_r6 DESC, doc_id) AS INT) AS rnk
    FROM (
        SELECT doc_id, round({terms}, 6) AS score_r6
        FROM perdoc CROSS JOIN stats
    )
    WHERE score_r6 > 0
    """


@query("q89_bm25_rank", oracle=_bm25_oracle())
def q89_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce
    from operator import add

    from pyspark.sql import Window


    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("toks"))

    def tf_col(w: str):
        # NB: the lambda must take exactly one parameter — F.filter
        # passes (element, index) to two-parameter lambdas, so a
        # `w=w` default capture would be overwritten by the index.
        return F.size(F.filter("toks", lambda t: t == F.lit(w))).alias(f"tf_{w}")

    perdoc = toks.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[tf_col(w) for w in _BM25_TERMS],
    )
    stats = perdoc.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{w}") > 0).cast("int")).alias(f"df_{w}")
            for w in _BM25_TERMS
        ],
    )

    def term_score(w: str):
        tf = F.col(f"tf_{w}").cast("double")
        idf = F.log(
            F.lit(1)
            + (F.col("n_docs") - F.col(f"df_{w}") + F.lit(0.5)) / (F.col(f"df_{w}") + F.lit(0.5))
        )
        norm = F.lit(1) - F.lit(_BM25_B) + F.lit(_BM25_B) * (
            F.col("dl").cast("double") / F.col("avgdl")
        )
        return idf * (tf * F.lit(_BM25_K1 + 1)) / (tf + F.lit(_BM25_K1) * norm)

    scored = (
        perdoc.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(reduce(add, (term_score(w) for w in _BM25_TERMS)), 6).alias("score_r6"),
        )
        .filter(F.col("score_r6") > 0)
    )
    # Matched-doc-grain global ranking through the two-phase
    # range-exchange rank — no single-partition window (the match set
    # is O(corpus) for common query terms).
    from pipeline_usnvc_spark.operators.rank import with_global_rank

    return with_global_rank(
        scored, F.col("score_r6").desc(), "doc_id", rank_col="rnk"
    ).select("doc_id", "score_r6", F.col("rnk").cast("int").alias("rnk"))


# ---------------------------------------------------------------------------
# q106 — reciprocal-rank fusion (RRF, k=60): the standard hybrid-
# retrieval combiner (lexical BM25 ranking fused with a second signal
# — here a length prior ranked by the scalable two-phase global rank,
# not a single-partition window). Scores are 1/(60+rank) sums of
# identically-ordered IEEE divisions → bit-exact vs the oracle. No
# final row_number: distinct rank pairs can collide in double space,
# so the fused ordering is left to the consumer.
# ---------------------------------------------------------------------------
@query(
    "q106_rrf_hybrid_rank",
    oracle=f"""
    WITH bm25 AS ({_bm25_oracle()}),
    len_rank AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS INT) AS rnk
        FROM documents
    )
    SELECT COALESCE(b.doc_id, l.doc_id) AS doc_id,
           b.rnk AS bm25_rank,
           l.rnk AS len_rank,
           COALESCE(1.0 / (60 + b.rnk), 0.0) + COALESCE(1.0 / (60 + l.rnk), 0.0) AS rrf_score
    FROM bm25 b FULL OUTER JOIN len_rank l ON b.doc_id = l.doc_id
    """,
)
def q106_rrf_hybrid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.rank import with_global_rank

    bm25 = q89_bm25_rank(spark, sf_dir).select(
        "doc_id", F.col("rnk").alias("bm25_rank")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    lenr = with_global_rank(
        docs, F.col("n_chars").desc(), F.col("doc_id"), rank_col="len_rank"
    ).select("doc_id", F.col("len_rank").cast("int").alias("len_rank"))
    return bm25.join(lenr, "doc_id", "full").select(
        "doc_id",
        "bm25_rank",
        "len_rank",
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("len_rank")), F.lit(0.0))
        ).alias("rrf_score"),
    )


# ---------------------------------------------------------------------------
# q110 — train/eval contamination: for every eval-split document, the
# fraction of its distinct 3-gram shingles that also occur in ANY
# train-split document (the benchmark-leakage check an LLM data
# pipeline runs before training). Split assignment reuses q37's
# fingerprint-hash rule; the overlap is a semi-join per (doc, shingle)
# against the distinct train shingle set — one shuffle each side,
# never a doc x doc comparison.
# ---------------------------------------------------------------------------
from pipeline_usnvc_spark.plans.dedup_queries import _SHINGLES_SQL  # noqa: E402


@query(
    "q110_contamination",
    oracle=f"""
    WITH bucketed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(md5(coalesce(array_to_string({_TOKS_SQL}, ' '), ''))), 1, 8) AS BIGINT) % 100 AS bucket
        FROM documents
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
    train_sh AS (
        SELECT DISTINCT shingle FROM sh JOIN bucketed USING (doc_id) WHERE bucket < 80
    ),
    eval_sh AS (
        SELECT sh.doc_id, sh.shingle FROM sh JOIN bucketed USING (doc_id) WHERE bucket >= 80
    ),
    hits AS (
        SELECT doc_id, count(*) AS n_contaminated
        FROM eval_sh WHERE shingle IN (SELECT shingle FROM train_sh)
        GROUP BY doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM eval_sh GROUP BY doc_id)
    SELECT s.doc_id, s.n_shingles,
           COALESCE(h.n_contaminated, 0) AS n_contaminated,
           CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / CAST(s.n_shingles AS DOUBLE) AS contamination
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
    """,
)
def q110_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.text import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(doc_fingerprint("text")), 1, 8), 16, 10).cast("bigint") % 100
    )
    sh = (
        docs.withColumn("_bucket", bucket)
        .select(
            "doc_id",
            "_bucket",
            F.explode(F.array_distinct(word_shingles(tokens("text"), n=3))).alias("shingle"),
        )
    )
    train_sh = sh.filter(F.col("_bucket") < 80).select("shingle").distinct()
    eval_sh = sh.filter(F.col("_bucket") >= 80).select("doc_id", "shingle")
    sizes = eval_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        eval_sh.join(train_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        (
            F.coalesce("n_contaminated", F.lit(0)).cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("contamination"),
    )


# ---------------------------------------------------------------------------
# q113 — Misra-Gries heavy hitters over document tokens (rows-only:
# the sketch is deterministic but order-of-encounter dependent, so no
# SQL oracle; tests/test_scale_ops.py asserts the MG guarantee —
# exact top tokens are always present with estimates within n/(k+1)
# of truth). Scale path for "most frequent tokens in a 100 TB corpus":
# k counters per partition instead of a distinct-key shuffle.
# ---------------------------------------------------------------------------
@query("q113_heavy_hitters")
def q113_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.sketches import misra_gries_heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    hh = misra_gries_heavy_hitters(tok, "token", k=256, top_n=20)
    # Self-certifying MG guarantee (VERDICT r03 item 4): for every
    # emitted token, exact - n/(k+1) <= est <= exact. The exact side
    # joins only the 20 emitted tokens (broadcast semi-reduced
    # term-grain aggregate), and the assert fires during execution.
    exact = (
        tok.join(F.broadcast(hh.select("token")), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("exact_count"))
    )
    total = tok.agg(F.count("*").cast("bigint").alias("n_tokens"))
    slack = F.ceil(F.col("n_tokens").cast("double") / F.lit(257.0)).cast("bigint")
    from pipeline_usnvc_spark.operators.contracts import contract_filter

    return contract_filter(
        hh.join(F.broadcast(exact), "token")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "mg_bound_ok",
            (F.col("est_count") <= F.col("exact_count"))
            & (F.col("est_count") >= F.col("exact_count") - slack),
        ),
        F.col("mg_bound_ok"),
        F.concat(F.lit("MG bound violated for token: "), F.col("token")),
    ).drop("n_tokens")


# ---------------------------------------------------------------------------
# q114 — PII detection + redaction (training-data scrub). The synthetic
# tables carry no PII, so the query first synthesizes a contact string
# from customer fields — with the *identical* expression in the DuckDB
# oracle — then counts and redacts emails/phones with portable regexes.
# The detection/redaction surface is what's under test; it runs with
# real (nonzero) matches and stays hash-exact.
# ---------------------------------------------------------------------------
@query(
    "q114_pii_redact",
    oracle="""
    WITH contacts AS (
        SELECT c_custkey,
               c_name || ' <user' || CAST(c_custkey AS VARCHAR) || '@example.com> call 555-0'
                      || CAST(c_custkey % 1000 AS VARCHAR) AS contact
        FROM customer
    )
    SELECT c_custkey,
           CAST(len(regexp_extract_all(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(contact, '\\b555-0[0-9]+\\b')) AS INT) AS n_phones,
           regexp_replace(regexp_replace(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                          '\\b555-0[0-9]+\\b', '[PHONE]', 'g') AS redacted
    FROM contacts
    """,
)
def q114_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.text import EMAIL_RE, PHONE_RE, redact_pii

    cust = load_table(spark, sf_dir, "customer")
    contact = F.concat(
        F.col("c_name"),
        F.lit(" <user"),
        F.col("c_custkey").cast("string"),
        F.lit("@example.com> call 555-0"),
        (F.col("c_custkey") % 1000).cast("string"),
    )
    return cust.select(
        "c_custkey",
        F.regexp_count(contact, F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(contact, F.lit(PHONE_RE)).cast("int").alias("n_phones"),
        redact_pii(contact).alias("redacted"),
    )


# ---------------------------------------------------------------------------
# q115 — repetition signals (Gopher/RefinedWeb-style quality filters):
# distinct-token ratio and duplicate-bigram fraction per document.
# All native array ops (split/filter/slice/zip_with/array_distinct) —
# one scan, zero shuffle, codegen end-to-end.
# ---------------------------------------------------------------------------
@query(
    "q115_repetition_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS l
        FROM documents
    ),
    grams AS (
        SELECT doc_id, l,
               list_transform(range(1, len(l)), i -> l[i] || '_' || l[i + 1]) AS g
        FROM toks WHERE len(l) >= 2
    )
    SELECT doc_id,
           CAST(len(l) AS BIGINT) AS n_tokens,
           round(CAST(len(list_distinct(l)) AS DOUBLE) / CAST(len(l) AS DOUBLE), 6) AS distinct_token_ratio,
           round(CAST(len(g) - len(list_distinct(g)) AS DOUBLE) / CAST(len(g) AS DOUBLE), 6) AS dup_bigram_ratio
    FROM grams
    """,
)
def q115_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.text import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    out = docs.select("doc_id", toks.alias("l")).filter(F.size("l") >= 2)
    grams = word_shingles(F.col("l"), 2)
    n = F.size("l").cast("double")
    ng = F.size(grams).cast("double")
    return out.select(
        "doc_id",
        F.size("l").cast("long").alias("n_tokens"),
        F.round(F.size(F.array_distinct("l")).cast("double") / n, 6).alias("distinct_token_ratio"),
        F.round((ng - F.size(F.array_distinct(grams)).cast("double")) / ng, 6).alias("dup_bigram_ratio"),
    )


# ---------------------------------------------------------------------------
# q116 — training-sequence packing: give every document its global
# token offset in the doc_id-ordered corpus stream, then the first/
# last 512-token training sequence it lands in (documents span
# sequence boundaries, as in GPT-style packing). The global offset is
# a distributed prefix-sum (operators/rank.with_global_cumsum): one
# range exchange + Arrow in-partition cumsum + broadcast offsets —
# never a single-partition window (asserted in tests/test_plans.py).
# ---------------------------------------------------------------------------
@query(
    "q116_sequence_packing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM t WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens,
           cum - n_tokens AS offset_start,
           (cum - n_tokens) // 512 AS seq_first,
           (cum - 1) // 512 AS seq_last
    FROM c
    """,
)
def q116_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.rank import with_global_cumsum

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", token_count("text").alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    cum = with_global_cumsum(toks, "n_tokens", "doc_id", cumsum_col="cum")
    start = F.col("cum") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        "n_tokens",
        start.alias("offset_start"),
        F.floor(start / 512).cast("bigint").alias("seq_first"),
        F.floor((F.col("cum") - 1) / 512).cast("bigint").alias("seq_last"),
    )


# ---------------------------------------------------------------------------
# q117 — temperature-based source mixing (GPT-3/DoReMi-style data
# mixture): sample a 1000-doc training mix where source s contributes
# proportionally to n_s^0.5 (alpha=0.5 upweights small sources).
# Targets are computed in INTEGER arithmetic (w = round(sqrt(n)*1e6)
# as bigint, tgt = 1000*w // sum(w)) so no float-summation-order can
# flip a floor() at the boundary; the per-source pick is the first
# tgt docs under a deterministic md5 order. The global weight total
# is a 1-row broadcast (same pattern as q111). At 100 TB the
# row_number-per-source window would hash-partition on a handful of
# source keys; the scale path replaces it with a per-source hash
# threshold (take doc where hash < quantile), trading exact counts
# for a skew-free map-side filter — documented, not needed at test
# scale.
# ---------------------------------------------------------------------------
@query(
    "q117_source_mixture",
    oracle="""
    WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    weights AS (
        SELECT source, CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w
        FROM counts
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS z FROM weights),
    targets AS (SELECT source, (1000 * w) // z AS tgt FROM weights CROSS JOIN tot),
    ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS rk
    FROM ranked r JOIN targets t ON r.source = t.source
    WHERE r.rk <= t.tgt
    """,
)
def q117_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    weights = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n"))
        .select(
            "source",
            F.round(F.sqrt(F.col("n").cast("double")) * 1000000).cast("long").alias("w"),
        )
    )
    total = weights.agg(F.sum("w").cast("long").alias("z"))
    # Integral `div`, not `/`+cast: the latter routes through a double
    # and can land one off at a near-integer quotient; DuckDB's `//`
    # is exact bigint division.
    targets = weights.crossJoin(F.broadcast(total)).select(
        "source", F.expr("CAST((1000 * w) DIV z AS LONG)").alias("tgt")
    )
    w = W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    ranked = docs.select(
        "doc_id", "source", F.row_number().over(w).cast("long").alias("rk")
    )
    return ranked.join(F.broadcast(targets), "source").filter(
        F.col("rk") <= F.col("tgt")
    ).select("doc_id", "source", "rk")


# ---------------------------------------------------------------------------
# q130 — per-source boilerplate removal (CCNet-style): drop tokens
# whose document frequency within their source exceeds 80% of that
# source's documents, and reassemble the surviving text in original
# token order. Documents that are pure boilerplate disappear.
#
# Scale shape: the doc-frequency table is distinct (source, token,
# doc) → groupBy (source, token) — one shuffle of the exploded
# corpus with map-side partial aggregation. The per-source document
# counts are a tiny dimension joined by broadcast. Reassembly
# re-groups by doc_id with a sorted positional collect — the second
# and last shuffle; nothing is exploded twice. At 100 TB the
# boilerplate set per source is vocabulary-bounded (≪ corpus), so
# the anti-join side stays broadcastable under AQE.
# ---------------------------------------------------------------------------
@query(
    "q130_boilerplate_removal",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(string_split(text, ' ')) AS token,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    df AS (
        SELECT source, token, count(DISTINCT doc_id) AS doc_freq
        FROM toks GROUP BY source, token
    ),
    src AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    boiler AS (
        SELECT d.source, d.token
        FROM df d JOIN src s ON s.source = d.source
        WHERE d.doc_freq > 0.8 * s.n_docs
    )
    SELECT t.doc_id, t.source,
           string_agg(t.token, ' ' ORDER BY t.pos) AS clean_text,
           count(*) AS n_kept
    FROM toks t
    LEFT JOIN boiler b ON b.source = t.source AND b.token = t.token
    WHERE b.token IS NULL
    GROUP BY t.doc_id, t.source
    """,
)
def q130_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    doc_freq = toks.groupBy("source", "token").agg(
        F.countDistinct("doc_id").alias("doc_freq")
    )
    src_docs = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    boiler = doc_freq.join(F.broadcast(src_docs), "source").filter(
        F.col("doc_freq") > 0.8 * F.col("n_docs")
    ).select("source", "token")
    return (
        toks.join(F.broadcast(boiler), ["source", "token"], "left_anti")
        .groupBy("doc_id", "source")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s.token,
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# q131 — vocabulary coverage: the top-100 corpus tokens with their
# frequency rank and cumulative share of all token occurrences (the
# curve a tokenizer-vocabulary builder reads off).
#
# Scale shape: one shuffle aggregates token counts (map-side
# combine does most of the work — vocabulary ≪ corpus); the top-100
# is a distributed TakeOrderedAndProject, NOT a full sort; only the
# 100 surviving rows pass through the single-partition running-sum
# window, and the grand total joins as a 1-row broadcast.
# ---------------------------------------------------------------------------
@query(
    "q131_vocab_coverage",
    oracle=f"""
    WITH counts AS (
        SELECT t.token, count(*) AS cnt
        FROM (SELECT unnest({_TOKS_SQL}) AS token FROM documents) t
        GROUP BY t.token
    ),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM counts),
    top AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT 100)
    SELECT token, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS vocab_rank,
           CAST(sum(cnt) OVER (ORDER BY cnt DESC, token ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / t.total AS cum_share
    FROM top CROSS JOIN tot t
    """,
)
def q131_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").cast("double").alias("total"))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(100)
    w = (
        Window.orderBy(F.desc("cnt"), F.asc("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return top.crossJoin(F.broadcast(total)).select(
        "token",
        "cnt",
        F.row_number().over(w).cast("int").alias("vocab_rank"),
        (F.sum("cnt").over(w).cast("double") / F.col("total")).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# q134 — bigram language-model counts: corpus-wide bigram frequencies
# with conditional probability P(w2 | w1) — the estimation pass of a
# count-based LM (and the PMI numerator for collocation mining).
#
# Scale shape: bigrams explode map-side (zip of the token array with
# its tail — no self-join); ONE shuffle on (w1, w2) counts them; the
# per-w1 totals come from a window over the already-aggregated bigram
# table partitioned by w1 — vocabulary²-bounded, ≪ corpus. The
# conditional probability is an integer/integer double division,
# IEEE-identical in both engines.
# ---------------------------------------------------------------------------
@query(
    "q134_bigram_lm",
    oracle=f"""
    WITH toks AS (SELECT {_TOKS_SQL} AS l FROM documents),
    bigrams AS (
        SELECT t.w1, t.w2
        FROM toks, LATERAL (
            SELECT unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2
        ) t
    ),
    counts AS (SELECT w1, w2, count(*) AS cnt FROM bigrams GROUP BY w1, w2),
    probs AS (
        -- window BEFORE the frequency cut: P(w2|w1) conditions on the
        -- full bigram mass, not just the frequent survivors
        SELECT w1, w2, cnt,
               CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER (PARTITION BY w1) AS DOUBLE) AS p_cond
        FROM counts
    )
    SELECT w1, w2, cnt, p_cond FROM probs WHERE cnt >= 5
    """,
)
def q134_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("l"))
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice("l", 1, F.greatest(F.size("l") - 1, F.lit(0))),
                F.slice("l", 2, F.greatest(F.size("l") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    counts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("cnt"))
    w1_total = Window.partitionBy("w1")
    return counts.select(
        "w1",
        "w2",
        "cnt",
        (F.col("cnt").cast("double") / F.sum("cnt").over(w1_total).cast("double")).alias("p_cond"),
    ).filter(F.col("cnt") >= 5)


# ---------------------------------------------------------------------------
# q147 — bigram-LM surprisal: each document scored by its average
# negative log-probability under the corpus's own bigram model — the
# count-based stand-in for model-perplexity quality filtering (docs
# with high surprisal are off-distribution). Determinism recipe from
# q38: every log is ln(integer count) — identical in both engines —
# per-term values round to 6 dp before summation and the final score
# to 4 dp, so double addition order cannot surface.
#
# Scale shape: doc bigrams explode map-side (zip, no self-join); the
# bigram stats table is vocabulary²-bounded ≪ corpus and broadcasts
# back into the exploded stream; one exchange groups scores per doc.
# ---------------------------------------------------------------------------
@query(
    "q147_lm_surprisal",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS l FROM documents),
    bigrams AS (
        SELECT doc_id, t.w1, t.w2
        FROM toks, LATERAL (
            SELECT unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2
        ) t
    ),
    stats AS (SELECT w1, w2, count(*) AS cnt FROM bigrams GROUP BY w1, w2),
    w1_tot AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS tot FROM stats GROUP BY w1)
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           CAST((sum(CAST(round((ln(CAST(t.tot AS DOUBLE)) - ln(CAST(s.cnt AS DOUBLE))) * 1000000.0) AS BIGINT))
                 + 50 * count(*)) // (100 * count(*)) AS DOUBLE) / 10000.0 AS avg_surprisal
    FROM bigrams b
    JOIN stats s ON s.w1 = b.w1 AND s.w2 = b.w2
    JOIN w1_tot t ON t.w1 = b.w1
    GROUP BY b.doc_id
    """,
)
def q147_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("l"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("l", 1, F.greatest(F.size("l") - 1, F.lit(0))),
                F.slice("l", 2, F.greatest(F.size("l") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    stats = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("cnt"))
    w1_tot = stats.groupBy("w1").agg(F.sum("cnt").cast("bigint").alias("tot"))
    # integer micro-units BEFORE the cross-row sum (the q38/q237/q268
    # discipline — review finding): summing 6dp-rounded DOUBLES is
    # fold-order dependent across the join shuffles; the micro round
    # absorbs JVM-vs-libm ln ulps exactly like the old 6dp round did
    # (surprisal >= 0, so Spark HALF_UP == DuckDB half-away). The 4dp
    # average is then an EXACT integer half-up division — a final
    # round(double, 4) is NOT engine-identical on half-boundary
    # doubles (the d99cd3d q111 class; DuckDB rounded
    # 3.4063499999999998 UP at sf0.1 where Spark's HALF_UP on the
    # exact expansion went down).
    surp_micro = F.round(
        (F.log(F.col("tot").cast("double")) - F.log(F.col("cnt").cast("double")))
        * F.lit(1000000.0)
    ).cast("bigint")
    return (
        # stats/w1_tot are bigram- and unigram-VOCABULARY grain — they
        # grow with the corpus, so no broadcast hints: the (w1, w2) and
        # (w1) equi-joins shuffle fine and AQE broadcasts when small.
        bigrams.join(stats, ["w1", "w2"])
        .join(w1_tot, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(surp_micro).cast("bigint").alias("_s_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.expr("(_s_micro + 50 * n_bigrams) div (100 * n_bigrams)").cast("double")
                / F.lit(10000.0)
            ).alias("avg_surprisal"),
        )
    )


# ---------------------------------------------------------------------------
# q148 — sliding-window document chunking (size=32 tokens, stride=24,
# 25% overlap): the RAG/embedding-prep operator that turns a corpus
# into retrievable passages with stable (doc_id, chunk_id) identity.
#
# Scale shape: entirely map-side — chunk starts come from a sequence
# expression over the in-row token array (no self-join, no explode of
# single tokens, only one row per CHUNK), so the operator is a pure
# narrow transformation; whatever partitioning the corpus arrives
# with is preserved.
# ---------------------------------------------------------------------------
@query(
    "q148_chunk_documents",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS l FROM documents),
    starts AS (
        SELECT doc_id, l, unnest(range(0, len(l), 24)) AS start
        FROM toks WHERE len(l) > 0
    )
    SELECT doc_id,
           CAST(start / 24 AS INT) AS chunk_id,
           array_to_string(l[start + 1 : start + 32], ' ') AS chunk_text,
           CAST(len(l[start + 1 : start + 32]) AS INT) AS chunk_len
    FROM starts
    """,
)
def q148_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    size, stride = 32, 24
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("l")).filter(F.size("l") > 0)
    starts = toks.select(
        "doc_id",
        "l",
        F.explode(
            F.sequence(F.lit(0), F.size("l") - 1, F.lit(stride))
        ).alias("start"),
    )
    chunk = F.slice("l", F.col("start") + 1, size)
    return starts.select(
        "doc_id",
        (F.col("start") / stride).cast("int").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("int").alias("chunk_len"),
    )


# ---------------------------------------------------------------------------
# q149 — distinctive terms per source: add-one-smoothed log-odds of
# each term's rate inside a source vs the rest of the corpus, top-5
# per source — the corpus-drift / source-characterization report.
# Every log is ln(integer) (counts with +1 smoothing), so the q38
# determinism recipe applies end-to-end.
#
# Scale shape: one shuffle for (source, term) counts; term totals and
# source totals are vocabulary- and source-bounded broadcasts; the
# top-5 window runs on the counts table (vocab-bounded), never the
# token stream.
# ---------------------------------------------------------------------------
@query(
    "q149_distinctive_terms",
    oracle=f"""
    WITH tok AS (SELECT source, unnest({_TOKS_SQL}) AS term FROM documents),
    st AS (SELECT source, term, count(*) AS c FROM tok GROUP BY source, term),
    term_tot AS (SELECT term, CAST(sum(c) AS BIGINT) AS tc FROM st GROUP BY term),
    src_tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS sc FROM st GROUP BY source),
    all_tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM st),
    scored AS (
        SELECT st.source, st.term, st.c,
               round(
                 (ln(CAST(st.c + 1 AS DOUBLE)) - ln(CAST(s.sc + 1 AS DOUBLE)))
                 - (ln(CAST(t.tc - st.c + 1 AS DOUBLE)) - ln(CAST(a.n - s.sc + 1 AS DOUBLE))),
               6) AS log_odds
        FROM st
        JOIN term_tot t ON t.term = st.term
        JOIN src_tot s ON s.source = st.source
        CROSS JOIN all_tot a
    )
    SELECT source, term, c, log_odds
    FROM (
        SELECT *, row_number() OVER (PARTITION BY source ORDER BY log_odds DESC, term) AS rk
        FROM scored
    )
    WHERE rk <= 5
    """,
)
def q149_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("term"))
    st = tok.groupBy("source", "term").agg(F.count("*").alias("c"))
    term_tot = st.groupBy("term").agg(F.sum("c").cast("bigint").alias("tc"))
    src_tot = st.groupBy("source").agg(F.sum("c").cast("bigint").alias("sc"))
    all_tot = st.agg(F.sum("c").cast("bigint").alias("n"))
    ln = lambda col: F.log(col.cast("double"))  # noqa: E731
    scored = (
        # term_tot is vocabulary-grain (grows with the corpus): no hint.
        st.join(term_tot, "term")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(all_tot))
        .select(
            "source",
            "term",
            "c",
            F.round(
                (ln(F.col("c") + 1) - ln(F.col("sc") + 1))
                - (ln(F.col("tc") - F.col("c") + 1) - ln(F.col("n") - F.col("sc") + 1)),
                6,
            ).alias("log_odds"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("log_odds"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("source", "term", "c", "log_odds")
    )


# ---------------------------------------------------------------------------
# q200 — term co-occurrence PMI over the top-50 df terms: pointwise
# mutual information ln(N·c_ab / (c_a·c_b)) for term pairs sharing a
# document, support ≥ 5, top-30 pairs. The collocation-mining shape
# (phrase detection à la word2vec preprocessing) with the standard
# scale guard: the pair join runs on the VOCABULARY-CAPPED doc-term
# table (≤ 50 terms/doc after the cap), so the candidate space is
# bounded by docs × C(50,2), never vocab². Every ln() argument is an
# exact-integer-valued double (the q38/q147 precedent) and outputs
# round to 6dp.
# ---------------------------------------------------------------------------
@query(
    "q200_pmi_cooccurrence",
    oracle=f"""
    WITH doc_terms AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents)
    ),
    df AS (SELECT tok, count(*) AS df FROM doc_terms GROUP BY tok),
    top50 AS (
        SELECT tok, df FROM (
            SELECT *, row_number() OVER (ORDER BY df DESC, tok) AS rk FROM df
        ) WHERE rk <= 50
    ),
    capped AS (
        SELECT dt.doc_id, dt.tok, t.df
        FROM doc_terms dt JOIN top50 t ON t.tok = dt.tok
    ),
    pairs AS (
        SELECT a.tok AS term_a, b.tok AS term_b,
               max(a.df) AS c_a, max(b.df) AS c_b, count(*) AS c_ab
        FROM capped a JOIN capped b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
        HAVING count(*) >= 5
    ),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT term_a, term_b, CAST(c_ab AS BIGINT) AS c_ab,
           round(ln(CAST(c_ab * n_docs AS DOUBLE)) - ln(CAST(c_a * c_b AS DOUBLE)), 6) AS pmi
    FROM (
        SELECT p.*, n.n_docs,
               row_number() OVER (
                   ORDER BY round(ln(CAST(c_ab * n_docs AS DOUBLE)) - ln(CAST(c_a * c_b AS DOUBLE)), 6) DESC,
                            term_a, term_b) AS rk
        FROM pairs p, n
    ) WHERE rk <= 30
    """,
)
def q200_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    doc_terms = docs.select("doc_id", F.explode(tokens("text")).alias("tok")).distinct()
    df = doc_terms.groupBy("tok").agg(F.count("*").alias("df"))
    top50 = df.orderBy(F.desc("df"), "tok").limit(50)
    capped = doc_terms.join(F.broadcast(top50), "tok").select("doc_id", "tok", "df")
    a = capped.alias("a")
    b = capped.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.tok") < F.col("b.tok")))
        .groupBy(F.col("a.tok").alias("term_a"), F.col("b.tok").alias("term_b"))
        .agg(F.max("a.df").alias("c_a"), F.max("b.df").alias("c_b"), F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    pmi = F.round(
        F.log((F.col("c_ab") * F.col("n_docs")).cast("double"))
        - F.log((F.col("c_a") * F.col("c_b")).cast("double")),
        6,
    )
    scored = pairs.crossJoin(F.broadcast(n)).select(
        "term_a", "term_b", F.col("c_ab").cast("bigint").alias("c_ab"), pmi.alias("pmi")
    )
    w = Window.orderBy(F.desc("pmi"), "term_a", "term_b")
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 30).drop("rk")


# ---------------------------------------------------------------------------
# q203 — model-based quality scoring: a linear classifier (the
# fastText/CCNet-style quality model shape) over the engineered
# features — logit = w·(ln(1+tokens), mean_token_len, punct_ratio,
# stopword_ratio) + b, score = sigmoid(logit), keep at score ≥ 0.5.
# Weights are fixed constants standing in for trained ones; the point
# is the SHAPE: model scoring is one narrow map-side expression over
# the corpus (zero shuffles, zero UDFs), so it costs one scan at any
# corpus size. ln/exp outputs round to 6dp (JVM-vs-libm ulp).
# ---------------------------------------------------------------------------
@query(
    "q203_quality_logit",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               ln(1.0 + CAST(len(toks) AS DOUBLE)) AS f_len,
               CASE WHEN len(toks) > 0
                    THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                    ELSE 0.0 END AS f_tok,
               CASE WHEN length(text) > 0
                    THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
                    ELSE 0.0 END AS f_punct,
               CASE WHEN len(toks) > 0
                    THEN CAST({_L['en']} AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                    ELSE 0.0 END AS f_stop
        FROM (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
    ),
    scored AS (
        SELECT doc_id,
               0.8 * f_len + 0.5 * f_tok - 4.0 * f_punct + 2.0 * f_stop - 3.5 AS logit
        FROM feats
    )
    SELECT doc_id, round(logit, 6) AS logit,
           round(1.0 / (1.0 + exp(-logit)), 6) AS score,
           CAST(round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5 AS BOOLEAN) AS keep
    FROM scored
    """,
)
def q203_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cols = quality_score_cols("text")
    f_len = F.log(F.lit(1.0) + cols["n_tokens"].cast("double"))
    logit = (
        F.lit(0.8) * f_len
        + F.lit(0.5) * F.coalesce(cols["mean_token_len"], F.lit(0.0))
        - F.lit(4.0) * cols["punct_ratio"]
        + F.lit(2.0) * cols["stopword_ratio"]
        - F.lit(3.5)
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit")))
    return (
        docs.select("doc_id", logit.alias("logit"))
        .select(
            "doc_id",
            F.round("logit", 6).alias("logit"),
            F.round(score, 6).alias("score"),
            # keep derives from the SAME 6dp-rounded score as the
            # reported column (review finding): comparing the raw
            # sigmoid left a JVM-vs-libm exp ulp boundary at 0.5 and
            # could emit the inconsistent row (score=0.5, keep=false)
            (F.round(score, 6) >= F.lit(0.5)).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# q207 — keyed pseudonymization (GDPR-style de-identification for
# shared analytics extracts): user ids replaced by a salted-hash
# token (HMAC-shaped: sha256(salt || id) prefix — deterministic, so
# joins/aggregations on the token still work across extracts with
# the same salt, but the mapping is irreversible without it), and
# email-shaped strings in the payload masked in place. Built-in sha2/
# regexp only — map-side, zero shuffles beyond the final distinct
# count audit.
# ---------------------------------------------------------------------------
@query(
    "q207_pseudonymize",
    oracle="""
    SELECT event_id,
           substr(sha256('pepper-2024:' || CAST(user_id AS VARCHAR)), 1, 16) AS user_token,
           regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<email>', 'g') AS props_masked,
           user_id % 7 = 0 AS in_audit_sample
    FROM events
    """,
)
def q207_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.substring(
            F.sha2(F.concat(F.lit("pepper-2024:"), F.col("user_id").cast("string")), 256),
            1,
            16,
        ).alias("user_token"),
        F.regexp_replace(
            "props", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<email>"
        ).alias("props_masked"),
        (F.col("user_id") % 7 == 0).alias("in_audit_sample"),
    )


# ---------------------------------------------------------------------------
# q259 — n-gram diversity per source (the self-BLEU-style
# repetitiveness audit for generated/synthetic corpora): distinct-to-
# total ratios for 1/2/3-grams. A source whose 3-gram ratio collapses
# is producing templated text. All counts exact ints; ratios are the
# identical double division. One exchange per n-gram grain (term
# tables ≪ corpus); documents never shuffle.
# ---------------------------------------------------------------------------
@query(
    "q259_ngram_diversity",
    oracle=f"""
    WITH toks AS (SELECT source, {_TOKS_SQL} AS toks FROM documents),
    g1 AS (SELECT source, unnest(toks) AS g FROM toks),
    g2 AS (
        SELECT source, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS g
        FROM toks WHERE len(toks) >= 2
    ),
    g3 AS (
        SELECT source, unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
        FROM toks WHERE len(toks) >= 3
    ),
    s1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n1, CAST(count(DISTINCT g) AS BIGINT) AS d1 FROM g1 GROUP BY source),
    s2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n2, CAST(count(DISTINCT g) AS BIGINT) AS d2 FROM g2 GROUP BY source),
    s3 AS (SELECT source, CAST(count(*) AS BIGINT) AS n3, CAST(count(DISTINCT g) AS BIGINT) AS d3 FROM g3 GROUP BY source)
    SELECT s1.source, n1, d1, n2, d2, n3, d3,
           CAST(d1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS unigram_diversity,
           CAST(d2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS bigram_diversity,
           CAST(d3 AS DOUBLE) / CAST(n3 AS DOUBLE) AS trigram_diversity
    FROM s1 JOIN s2 ON s2.source = s1.source JOIN s3 ON s3.source = s1.source
    """,
)
def q259_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", tokens("text").alias("toks"))
    length2 = F.size("toks") - F.lit(1)
    bigrams = F.zip_with(
        F.slice("toks", 1, length2), F.slice("toks", 2, length2),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    length3 = F.greatest(F.size("toks") - F.lit(2), F.lit(0))
    trigrams = F.zip_with(
        F.zip_with(
            F.slice("toks", 1, length3), F.slice("toks", 2, length3),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        F.slice("toks", 3, length3),
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    g1 = toks.select("source", F.explode("toks").alias("g"))
    g2 = toks.filter(F.size("toks") >= 2).select("source", F.explode(bigrams).alias("g"))
    g3 = toks.filter(F.size("toks") >= 3).select("source", F.explode(trigrams).alias("g"))

    def stats(g, n_name, d_name):
        return g.groupBy("source").agg(
            F.count("*").cast("bigint").alias(n_name),
            F.countDistinct("g").cast("bigint").alias(d_name),
        )

    s1, s2, s3 = stats(g1, "n1", "d1"), stats(g2, "n2", "d2"), stats(g3, "n3", "d3")
    return (
        s1.join(s2, "source")
        .join(s3, "source")
        .select(
            "source", "n1", "d1", "n2", "d2", "n3", "d3",
            (F.col("d1").cast("double") / F.col("n1").cast("double")).alias("unigram_diversity"),
            (F.col("d2").cast("double") / F.col("n2").cast("double")).alias("bigram_diversity"),
            (F.col("d3").cast("double") / F.col("n3").cast("double")).alias("trigram_diversity"),
        )
    )


# ---------------------------------------------------------------------------
# q292 — pairwise source vocabulary overlap: Jaccard between every
# two sources' distinct token sets — the corpus-composition
# diagnostic ("are src3 and src7 the same crawl?"). The pair
# intersection is an equi-join on token over the (source, token)
# DISTINCT table (vocabulary grain ≪ corpus); union sizes come from
# the per-source counts by inclusion-exclusion. All exact ints.
# ---------------------------------------------------------------------------
@query(
    "q292_source_vocab_overlap",
    oracle=f"""
    WITH st AS (
        SELECT DISTINCT source, unnest({_TOKS_SQL}) AS token FROM documents
    ),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_inter
        FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, sa.n AS n_a, sb.n AS n_b, i.n_inter,
           CAST(i.n_inter AS DOUBLE) / CAST(sa.n + sb.n - i.n_inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """,
)
def q292_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    st = docs.select("source", F.explode(tokens("text")).alias("token")).distinct()
    sizes = st.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    a, b = st.alias("a"), st.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q237 — pairwise Jensen–Shannon divergence between source token
# distributions (Lin 1991 — public measure): the corpus-mixing
# diagnostic that tells a training-data pipeline which sources are
# near-duplicates distribution-wise and which add diversity. Scale
# shape: ONE vocab-grain shuffle builds per-token source-count maps;
# the source-pair spine (n_src² rows — config-grain) broadcasts onto
# it, so the corpus is never joined pairwise at doc grain. Per-token
# contributions quantize to exact nano-ints after the suite's 6dp
# ln-rounding, so the distributed integer sum is order-independent
# and engine-exact.
# ---------------------------------------------------------------------------
@query(
    "q237_js_divergence",
    oracle=f"""
    WITH tok AS (
        SELECT source, t.token, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT source, unnest({_TOKS_SQL}) AS token FROM documents) t
        GROUP BY source, t.token
    ),
    totals AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM tok GROUP BY source),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b, a.n AS n_a, b.n AS n_b
        FROM totals a JOIN totals b ON a.source < b.source
    ),
    terms AS (
        SELECT p.src_a, p.src_b,
               COALESCE(ta.cnt, 0) AS ca, COALESCE(tb.cnt, 0) AS cb,
               p.n_a, p.n_b
        FROM pairs p
        CROSS JOIN (SELECT DISTINCT token FROM tok) v
        LEFT JOIN tok ta ON ta.source = p.src_a AND ta.token = v.token
        LEFT JOIN tok tb ON tb.source = p.src_b AND tb.token = v.token
        WHERE COALESCE(ta.cnt, 0) + COALESCE(tb.cnt, 0) > 0
    ),
    contribs AS (
        SELECT src_a, src_b,
               CAST(round(1000000000.0 * (
                 CASE WHEN ca > 0 THEN 0.5 * (CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE))
                      * round(ln(2.0 * (CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE))
                                 / (CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)
                                    + CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE))), 6)
                      ELSE 0.0 END
                 +
                 CASE WHEN cb > 0 THEN 0.5 * (CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE))
                      * round(ln(2.0 * (CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE))
                                 / (CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)
                                    + CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE))), 6)
                      ELSE 0.0 END)) AS BIGINT) AS nano
        FROM terms
    )
    SELECT src_a, src_b,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(nano) AS DOUBLE) / 1000000000.0 AS jsd_nats
    FROM contribs GROUP BY src_a, src_b
    """,
)
def q237_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    totals = tok.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("n"))
    ta, tb = totals.alias("ta"), totals.alias("tb")
    pairs = ta.join(tb, F.col("ta.source") < F.col("tb.source")).select(
        F.col("ta.source").alias("src_a"),
        F.col("tb.source").alias("src_b"),
        F.col("ta.n").alias("n_a"),
        F.col("tb.n").alias("n_b"),
    )
    tokvec = tok.groupBy("token").agg(
        F.map_from_entries(F.collect_list(F.struct("source", "cnt"))).alias("m")
    )
    ca = F.coalesce(F.element_at("m", F.col("src_a")), F.lit(0)).cast("bigint")
    cb = F.coalesce(F.element_at("m", F.col("src_b")), F.lit(0)).cast("bigint")
    p = ca.cast("double") / F.col("n_a").cast("double")
    q = cb.cast("double") / F.col("n_b").cast("double")
    half_sum = p + q
    term_a = F.when(
        ca > 0, F.lit(0.5) * p * F.round(F.log(F.lit(2.0) * p / half_sum), 6)
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        cb > 0, F.lit(0.5) * q * F.round(F.log(F.lit(2.0) * q / half_sum), 6)
    ).otherwise(F.lit(0.0))
    nano = F.round(F.lit(1000000000.0) * (term_a + term_b)).cast("bigint")
    return (
        tokvec.crossJoin(F.broadcast(pairs))
        .withColumn("ca", ca)
        .withColumn("cb", cb)
        .filter(F.col("ca") + F.col("cb") > 0)
        .withColumn("nano", nano)
        .groupBy("src_a", "src_b")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            (F.sum("nano").cast("double") / F.lit(1000000000.0)).alias("jsd_nats"),
        )
    )


# ---------------------------------------------------------------------------
# q251 — language-ID confusion matrix: the q31 stopword-marker
# heuristic's predictions crossed against the corpus's own lang
# labels, with per-label share — the eval harness a pipeline needs
# before trusting a cheap classifier as a routing gate. One doc-grain
# map pass + one (label, prediction)-grain rollup; the share divides
# exact counts via a label-grain window (≤ #langs² rows).
# ---------------------------------------------------------------------------
@query(
    "q251_lang_confusion",
    oracle=f"""
    WITH pred AS (
        SELECT lang AS labeled_lang,
               CASE
                 WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                 WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
                 WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
                 WHEN s_es > 0 THEN 'es'
                 ELSE 'und'
               END AS detected_lang
        FROM (
            SELECT lang,
                   {_L['en']} AS s_en, {_L['de']} AS s_de, {_L['fr']} AS s_fr, {_L['es']} AS s_es
            FROM (SELECT lang, {_TOKS_SQL} AS toks FROM documents)
        )
    )
    SELECT labeled_lang, detected_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) AS DOUBLE)
             / CAST(sum(count(*)) OVER (PARTITION BY labeled_lang) AS DOUBLE) AS label_share
    FROM pred GROUP BY labeled_lang, detected_lang
    """,
)
def q251_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window


    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            F.col("lang").alias("labeled_lang"), lang_id("text").alias("detected_lang")
        )
        .groupBy("labeled_lang", "detected_lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    # window over the ≤ #langs² aggregated cells, not documents
    w = Window.partitionBy("labeled_lang")
    return cells.select(
        "labeled_lang",
        "detected_lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double")).alias(
            "label_share"
        ),
    )


# ---------------------------------------------------------------------------
# q266 — hapax legomena profile per source: vocabulary size, number
# of once-only tokens, and their ratio — the classic lexical-richness
# signal (a source whose hapax ratio collapses is template/boilerplate
# heavy; one where it explodes is OCR-noise heavy). Term tables
# shuffle, documents don't.
# ---------------------------------------------------------------------------
@query(
    "q266_hapax_ratio",
    oracle=f"""
    WITH tok AS (
        SELECT source, t.token, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT source, unnest({_TOKS_SQL}) AS token FROM documents) t
        GROUP BY source, t.token
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(count(*) FILTER (WHERE cnt = 1) AS BIGINT) AS n_hapax,
           CAST(count(*) FILTER (WHERE cnt = 1) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS hapax_ratio,
           CAST(sum(cnt) AS BIGINT) AS n_tokens
    FROM tok GROUP BY source
    """,
)
def q266_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return tok.groupBy("source").agg(
        F.count("*").cast("bigint").alias("vocab_size"),
        F.count(F.when(F.col("cnt") == 1, 1)).cast("bigint").alias("n_hapax"),
        (
            F.count(F.when(F.col("cnt") == 1, 1)).cast("double")
            / F.count("*").cast("double")
        ).alias("hapax_ratio"),
        F.sum("cnt").cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# q268 — per-source lognormal fit of document lengths: μ and σ² of
# ln(n_chars) (the standard web-corpus length model) — feeds length-
# prior curation and synthetic-data validation. Per-doc ln quantizes
# to exact micro-ints after the suite's 6dp rounding, so μ/σ² come
# from order-independent integer sufficient statistics; source-grain
# output.
# ---------------------------------------------------------------------------
@query(
    "q268_length_lognormal_fit",
    oracle="""
    WITH lns AS (
        SELECT source,
               CAST(round(round(ln(CAST(n_chars AS DOUBLE)), 6) * 1000000.0) AS BIGINT) AS l_micro
        FROM documents WHERE n_chars > 0
    ),
    stats AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(l_micro) AS HUGEINT) AS s,
               CAST(sum(CAST(l_micro AS HUGEINT) * l_micro) AS HUGEINT) AS ss
        FROM lns GROUP BY source
    )
    SELECT source, n_docs,
           round(CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1000000.0, 6) AS mu,
           round(CAST(n_docs * ss - s * s AS DOUBLE)
                 / CAST(CAST(n_docs AS HUGEINT) * n_docs AS DOUBLE) / 1e12, 6) AS sigma2
    FROM stats
    """,
)
def q268_length_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    l_micro = (
        F.round(F.round(F.log(F.col("n_chars").cast("double")), 6) * 1000000.0)
        .cast("bigint")
    )
    stats = docs.select("source", l_micro.alias("l_micro")).groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(_d38(F.col("l_micro"))).cast("decimal(38,0)").alias("s"),
        F.sum(_d38(F.col("l_micro")) * _d38(F.col("l_micro")))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    n = _d38(F.col("n_docs"))
    return stats.select(
        "source",
        "n_docs",
        F.round(
            F.col("s").cast("double") / F.col("n_docs").cast("double") / F.lit(1e6), 6
        ).alias("mu"),
        F.round(
            (n * F.col("ss") - F.col("s") * F.col("s")).cast("double")
            / (n * n).cast("double")
            / F.lit(1e12),
            6,
        ).alias("sigma2"),
    )
