"""Round-8 query family: evaluation tier 2, survival & time-series
diagnostics, banded drift, and corpus-economics measures.

Extends the round-7 inference/eval families with the second tier a
model-eval or data-curation team reaches for next: threshold metrics
(confusion/MCC, macro-F1, log-loss, Brier decomposition,
Hosmer-Lemeshow, weighted kappa), ranking metrics (MRR, MAP@10),
survival comparison (log-rank), classical residual diagnostics
(Durbin-Watson, runs test, Ljung-Box, PACF), control charting (EWMA
limits), the reference-banded drift spine (VERDICT r07 item 9), and
corpus-growth economics (Chao1, Heaps' law, term burstiness,
Atkinson/Lorenz inequality). Reference scope note: the reference
pipeline (usnvc/usnvc.py) has no statistics at all — this family
belongs to the mandated LLM-pipeline/analytics extension surface.

Oracle-parity discipline (memory: oracle-parity rules), same as
plans/stats_queries.py and plans/inference_queries.py:

- sufficient statistics are EXACT integer/decimal sums; no double is
  ever summed across rows — cross-row float work is micro-scaled to
  integers first (round(x*1e6) BIGINT / DECIMAL(38,0));
- integer-ratio outputs floor to micro units BEFORE the final double
  division (the q318/q364 exact-half trap), with the +C shift for
  negative-capable numerators (Spark pmod is non-negative, DuckDB %
  follows the dividend);
- per-row transcendentals (ln/exp/sqrt) round to micro before any
  cross-row sum, or feed one final expression that is the IDENTICAL
  tree on both engines, rounded to 6dp;
- every argmax/rank is tie-free at every sf (unique id folded into
  the ordering);
- divisions are guarded on positive denominators (Spark 0/0 = NaN vs
  DuckDB NULL).

Scale shape: every query aggregates row-grain data to a bounded
spine FIRST (score-value domain, calibration bins, class lattices,
brand partitions, day calendar, frequency ranks, source spines);
windows and joins only ever run on those spines. No data-grain
global window, no unbounded broadcast, no driver-side loop over
data-grain results.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_usnvc_spark.plans.registry import _d38, query
from pipeline_usnvc_spark.sources.tables import load_table

from pipeline_usnvc_spark.functions.text import TOKENIZE_SQL as _TOKS_SQL

# The shared deterministic document classifier (q345/q356/q358's
# logistic length score, micro-quantized): P(lang='en') ~
# sigmoid((n_chars - 500)/250), stored as an integer in [0, 1e6].
from pipeline_usnvc_spark.functions.text import DOC_SCORE_SQL as _SCORE_SQL
from pipeline_usnvc_spark.functions.text import doc_score_micro as _score_micro
from pipeline_usnvc_spark.functions.text import tokens


def _fdiv_micro(num, den):
    """Exact floor(num*1e6/den)/1e6 for NON-NEGATIVE integer ratios:
    floor to micro before the double division so a value landing on
    an exact rounding half cannot flip between engines (q318/q364)."""
    s = (_d38(num) * F.lit(1000000).cast("decimal(38,0)")).cast("decimal(38,0)")
    d = _d38(den)
    return ((s - F.pmod(s, d)) / d).cast("bigint").cast("double") / F.lit(1000000.0)


_FDIV_SQL = (
    "CAST((CAST({num} AS HUGEINT) * 1000000"
    " - (CAST({num} AS HUGEINT) * 1000000) % CAST({den} AS HUGEINT))"
    " // CAST({den} AS HUGEINT) AS BIGINT) / 1000000.0"
)


def _fd(num: str, den: str) -> str:
    return _FDIV_SQL.format(num=num, den=den)


# ---------------------------------------------------------------------------
# q378 — confusion matrix + MCC at the 0.5 operating point of the
# shared logistic length classifier (q356's AUC collapsed to the
# decision a deployed filter actually makes): TP/FP/TN/FN are exact
# counts; precision/recall/F1 are exact integer ratios floored to
# micro; MCC's numerator tp*tn - fp*fn stays an exact DECIMAL(38,0)
# product and meets the sqrt'd denominator in ONE identical final
# expression. One row-grain aggregate, then scalar arithmetic.
# ---------------------------------------------------------------------------
@query(
    "q378_confusion_mcc",
    oracle=f"""
    WITH scored AS (
        SELECT {_SCORE_SQL} AS v,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    cm AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE y = 1 AND v >= 500000) AS BIGINT) AS tp,
               CAST(count(*) FILTER (WHERE y = 0 AND v >= 500000) AS BIGINT) AS fp,
               CAST(count(*) FILTER (WHERE y = 1 AND v < 500000) AS BIGINT) AS fn,
               CAST(count(*) FILTER (WHERE y = 0 AND v < 500000) AS BIGINT) AS tn
        FROM scored
    )
    SELECT n AS n_docs, tp, fp, tn, fn,
           CASE WHEN tp + fp > 0 THEN {_fd("tp", "(tp + fp)")} END AS precision_pos,
           CASE WHEN tp + fn > 0 THEN {_fd("tp", "(tp + fn)")} END AS recall_pos,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN {_fd("(2 * tp)", "(2 * tp + fp + fn)")} END AS f1_pos,
           CASE WHEN (tp+fp) > 0 AND (tp+fn) > 0 AND (tn+fp) > 0 AND (tn+fn) > 0
                THEN round(CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn AS DOUBLE)
                           / sqrt(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn)
                                       * (tn + fp) * (tn + fn) AS DOUBLE)), 6)
           END AS mcc
    FROM cm
    """,
)
def q378_confusion_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        _score_micro().alias("v"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    pos = F.col("v") >= 500000
    cm = scored.agg(
        F.count("*").cast("bigint").alias("n"),
        F.count(F.when((F.col("y") == 1) & pos, 1)).cast("bigint").alias("tp"),
        F.count(F.when((F.col("y") == 0) & pos, 1)).cast("bigint").alias("fp"),
        F.count(F.when((F.col("y") == 1) & ~pos, 1)).cast("bigint").alias("fn"),
        F.count(F.when((F.col("y") == 0) & ~pos, 1)).cast("bigint").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    mcc_num = (_d38(tp) * _d38(tn) - _d38(fp) * _d38(fn)).cast("double")
    mcc_den = F.sqrt(
        (_d38(tp + fp) * _d38(tp + fn) * _d38(tn + fp) * _d38(tn + fn)).cast("double")
    )
    return cm.select(
        F.col("n").alias("n_docs"),
        "tp",
        "fp",
        "tn",
        "fn",
        F.when(tp + fp > 0, _fdiv_micro(tp, tp + fp)).alias("precision_pos"),
        F.when(tp + fn > 0, _fdiv_micro(tp, tp + fn)).alias("recall_pos"),
        F.when(
            F.lit(2) * tp + fp + fn > 0,
            _fdiv_micro(F.lit(2) * tp, F.lit(2) * tp + fp + fn),
        ).alias("f1_pos"),
        F.when(
            (tp + fp > 0) & (tp + fn > 0) & (tn + fp > 0) & (tn + fn > 0),
            F.round(mcc_num / mcc_den, 6),
        ).alias("mcc"),
    )


# ---------------------------------------------------------------------------
# q379 — macro-F1 of the majority-class-per-source baseline: predict
# each document's language as the most common language of its source
# (the baseline every real lang-ID eval is judged against), then
# one-vs-rest F1 per class and the macro average. The majority vote
# is tie-free (count desc, lang asc) on the bounded source x lang
# spine (<= 100 rows); the confusion lattice is 25 cells; per-class
# F1 and the macro mean are exact integer ratios floored to micro.
# ---------------------------------------------------------------------------
@query(
    "q379_macro_f1",
    oracle="""
    WITH sl AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    maj AS (
        SELECT source, lang AS pred FROM (
            SELECT source, lang,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY c DESC, lang ASC) AS rk
            FROM sl
        ) WHERE rk = 1
    ),
    conf AS (
        SELECT d.lang AS truth, m.pred, CAST(count(*) AS BIGINT) AS c
        FROM documents d JOIN maj m ON m.source = d.source
        GROUP BY 1, 2
    ),
    classes AS (SELECT DISTINCT truth AS cls FROM conf),
    per_class AS (
        SELECT k.cls,
               CAST(coalesce(sum(CASE WHEN c.truth = k.cls AND c.pred = k.cls THEN c.c END), 0) AS BIGINT) AS tp,
               CAST(coalesce(sum(CASE WHEN c.truth <> k.cls AND c.pred = k.cls THEN c.c END), 0) AS BIGINT) AS fp,
               CAST(coalesce(sum(CASE WHEN c.truth = k.cls AND c.pred <> k.cls THEN c.c END), 0) AS BIGINT) AS fn
        FROM classes k CROSS JOIN conf c GROUP BY 1
    ),
    f1s AS (
        SELECT cls, tp, fp, fn,
               CAST((CAST(2 * tp AS HUGEINT) * 1000000
                     - (CAST(2 * tp AS HUGEINT) * 1000000) % (2 * tp + fp + fn))
                    // (2 * tp + fp + fn) AS BIGINT) AS f1_micro
        FROM per_class
    )
    SELECT cls AS lang, tp, fp, fn,
           CAST(f1_micro AS DOUBLE) / 1000000.0 AS f1,
           CAST((CAST(sum(f1_micro) OVER () AS BIGINT)
                 - CAST(sum(f1_micro) OVER () AS BIGINT) % (count(*) OVER ()))
                // (count(*) OVER ()) AS BIGINT) / 1000000.0 AS macro_f1
    FROM f1s ORDER BY lang
    """,
)
def q379_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(F.count("*").cast("bigint").alias("c"))
    w_maj = Window.partitionBy("source").orderBy(F.col("c").desc(), F.col("lang").asc())
    maj = (
        sl.withColumn("rk", F.row_number().over(w_maj))
        .filter(F.col("rk") == 1)
        .select("source", F.col("lang").alias("pred"))
    )
    conf = (
        docs.join(F.broadcast(maj), "source")
        .groupBy(F.col("lang").alias("truth"), "pred")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    classes = conf.select(F.col("truth").alias("cls")).distinct()
    per_class = (
        # conf is the bounded |langs| x |langs| confusion lattice —
        # broadcast so the class-spine expansion never plans a
        # distributed CartesianProduct
        classes.crossJoin(F.broadcast(conf))
        .groupBy("cls")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("truth") == F.col("cls"))
                        & (F.col("pred") == F.col("cls")),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tp"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("truth") != F.col("cls"))
                        & (F.col("pred") == F.col("cls")),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("fp"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("truth") == F.col("cls"))
                        & (F.col("pred") != F.col("cls")),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("fn"),
        )
    )
    den = F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn")
    s = _d38(F.lit(2) * F.col("tp")) * F.lit(1000000).cast("decimal(38,0)")
    f1s = per_class.select(
        "cls",
        "tp",
        "fp",
        "fn",
        ((s - F.pmod(s, _d38(den))) / _d38(den)).cast("bigint").alias("f1_micro"),
    )
    w_all = Window.partitionBy()
    msum = F.sum("f1_micro").over(w_all).cast("bigint")
    k = F.count("*").over(w_all).cast("bigint")
    return (
        f1s.select(
            F.col("cls").alias("lang"),
            "tp",
            "fp",
            "fn",
            (F.col("f1_micro").cast("double") / F.lit(1000000.0)).alias("f1"),
            (
                ((msum - F.pmod(msum, k)) / k).cast("bigint").cast("double")
                / F.lit(1000000.0)
            ).alias("macro_f1"),
        )
        .orderBy("lang")
    )


# The graded-catalog construction shared by q380 (MRR) and q381 (MAP):
# per-part revenue cents, the 4-level ntile relevance grade per brand,
# and the retail-price ranking window. ONE definition each side
# (review finding: the whole rev/graded/ranked block was duplicated
# verbatim in both Spark code and oracle SQL).
_GRADED_CTES = """rev AS (
        SELECT l_partkey AS p_partkey,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY 1
    ),
    graded AS (
        SELECT p.p_brand, p.p_partkey, p.p_retailprice,
               4 - ntile(4) OVER (PARTITION BY p.p_brand
                                  ORDER BY r.rev_cents DESC, p.p_partkey) AS grade
        FROM part p JOIN rev r ON r.p_partkey = p.p_partkey
    )"""


def _graded_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of ``_GRADED_CTES``'s ``graded`` CTE."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("rev_cents")
    )
    w_grade = Window.partitionBy("p_brand").orderBy(
        F.col("rev_cents").desc(), F.col("p_partkey")
    )
    return part.join(rev, "p_partkey").select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        (F.lit(4) - F.ntile(4).over(w_grade)).alias("grade"),
    )


def _retail_pos_window():
    return Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )


# ---------------------------------------------------------------------------
# q380 — per-brand reciprocal rank (MRR's per-query term): rank parts
# by retail price (q355's retrieval ranking, tie-broken by partkey),
# relevance = top revenue quartile (grade 3); report the first
# relevant position and its reciprocal. ntile guarantees grade 3 is
# non-empty for every brand, so first_rel_pos never nulls. Brand-
# partitioned windows only (bounded per brand), exact 1/pos floored
# to micro.
# ---------------------------------------------------------------------------
@query(
    "q380_mrr_eval",
    oracle=f"""
    WITH {_GRADED_CTES},
    ranked AS (
        SELECT p_brand, grade,
               CAST(row_number() OVER (PARTITION BY p_brand
                    ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS pos
        FROM graded
    ),
    firsts AS (
        SELECT p_brand,
               CAST(min(CASE WHEN grade = 3 THEN pos END) AS BIGINT) AS first_rel_pos,
               CAST(count(*) AS BIGINT) AS n_parts
        FROM ranked GROUP BY p_brand
    )
    SELECT p_brand, n_parts, first_rel_pos,
           {_fd("1", "first_rel_pos")} AS reciprocal_rank
    FROM firsts ORDER BY p_brand
    """,
)
def q380_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    graded = _graded_parts(spark, sf_dir)
    w_pos = _retail_pos_window()
    ranked = graded.select(
        "p_brand",
        "grade",
        F.row_number().over(w_pos).cast("bigint").alias("pos"),
    )
    firsts = ranked.groupBy("p_brand").agg(
        F.min(F.when(F.col("grade") == 3, F.col("pos")))
        .cast("bigint")
        .alias("first_rel_pos"),
        F.count("*").cast("bigint").alias("n_parts"),
    )
    return firsts.select(
        "p_brand",
        "n_parts",
        "first_rel_pos",
        _fdiv_micro(F.lit(1), F.col("first_rel_pos")).alias("reciprocal_rank"),
    ).orderBy("p_brand")


# ---------------------------------------------------------------------------
# q381 — per-brand average precision at 10 (MAP's per-query term)
# over the same ranking/relevance as q380: AP@10 = (sum of P@pos at
# each relevant pos <= 10) / min(10, R). Each P@pos is an exact
# rational (cumulative relevant count / position) floored to micro;
# their sum is an exact integer; the final division floors to micro
# again. Brand-partitioned windows only.
# ---------------------------------------------------------------------------
@query(
    "q381_map_eval",
    oracle=f"""
    WITH {_GRADED_CTES},
    ranked AS (
        SELECT p_brand, CASE WHEN grade = 3 THEN 1 ELSE 0 END AS rel,
               CAST(row_number() OVER (PARTITION BY p_brand
                    ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS pos
        FROM graded
    ),
    cum AS (
        SELECT p_brand, rel, pos,
               CAST(sum(rel) OVER (PARTITION BY p_brand ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rel_cum,
               CAST(sum(rel) OVER (PARTITION BY p_brand) AS BIGINT) AS n_rel
        FROM ranked
    ),
    terms AS (
        SELECT p_brand, n_rel,
               CASE WHEN rel = 1 AND pos <= 10
                    THEN CAST((CAST(rel_cum AS HUGEINT) * 1000000
                               - (CAST(rel_cum AS HUGEINT) * 1000000) % pos)
                              // pos AS BIGINT)
                    ELSE 0 END AS p_micro
        FROM cum
    ),
    agg AS (
        SELECT p_brand, CAST(max(n_rel) AS BIGINT) AS n_rel,
               CAST(sum(p_micro) AS BIGINT) AS s,
               CAST(least(10, max(n_rel)) AS BIGINT) AS m
        FROM terms GROUP BY p_brand
    )
    SELECT p_brand, n_rel,
           CAST((s - s % m) // m AS BIGINT) / 1000000.0 AS ap_at_10
    FROM agg ORDER BY p_brand
    """,
)
def q381_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    graded = _graded_parts(spark, sf_dir)
    w_pos = _retail_pos_window()
    ranked = graded.select(
        "p_brand",
        F.when(F.col("grade") == 3, 1).otherwise(0).alias("rel"),
        F.row_number().over(w_pos).cast("bigint").alias("pos"),
    )
    w_cum = (
        Window.partitionBy("p_brand")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_brand = Window.partitionBy("p_brand")
    cum = ranked.select(
        "p_brand",
        "rel",
        "pos",
        F.sum("rel").over(w_cum).cast("bigint").alias("rel_cum"),
        F.sum("rel").over(w_brand).cast("bigint").alias("n_rel"),
    )
    sp = _d38(F.col("rel_cum")) * F.lit(1000000).cast("decimal(38,0)")
    terms = cum.select(
        "p_brand",
        "n_rel",
        F.when(
            (F.col("rel") == 1) & (F.col("pos") <= 10),
            ((sp - F.pmod(sp, _d38(F.col("pos")))) / _d38(F.col("pos"))).cast(
                "bigint"
            ),
        )
        .otherwise(0)
        .alias("p_micro"),
    )
    agg = terms.groupBy("p_brand").agg(
        F.max("n_rel").cast("bigint").alias("n_rel"),
        F.sum("p_micro").cast("bigint").alias("s"),
        F.least(F.lit(10), F.max("n_rel")).cast("bigint").alias("m"),
    )
    return agg.select(
        "p_brand",
        "n_rel",
        (
            ((F.col("s") - F.pmod(F.col("s"), F.col("m"))) / F.col("m"))
            .cast("bigint")
            .cast("double")
            / F.lit(1000000.0)
        ).alias("ap_at_10"),
    ).orderBy("p_brand")


# ---------------------------------------------------------------------------
# q382 — Brier score decomposition (Murphy): overall Brier plus the
# reliability / resolution / uncertainty split over the q345 decile
# calibration bins — the diagnosis that tells you WHY a calibrated-
# looking score is (or isn't) useful. Exactness: the raw Brier sum
# is an exact integer sum of per-row (p_micro - y*1e6)^2; each
# decomposition term is an exact integer rational per bin, floored
# to micro on the bounded 10-bin spine before the final divisions.
# ---------------------------------------------------------------------------
@query(
    "q382_brier_decomposition",
    oracle=f"""
    WITH scored AS (
        SELECT {_SCORE_SQL} AS v,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    binned AS (
        SELECT least(CAST(v // 100000 AS BIGINT), 9) AS bin, v, y FROM scored
    ),
    per_bin AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS x,
               CAST(sum(v) AS BIGINT) AS c,
               CAST(sum(CAST(v - y * 1000000 AS HUGEINT)
                        * CAST(v - y * 1000000 AS HUGEINT)) AS HUGEINT) AS sq
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(x) AS BIGINT) AS xx,
               CAST(sum(sq) AS HUGEINT) AS sq_all
        FROM per_bin
    ),
    terms AS (
        SELECT
            CAST(sum(CAST((CAST(c AS HUGEINT) - CAST(x AS HUGEINT) * 1000000)
                          * (CAST(c AS HUGEINT) - CAST(x AS HUGEINT) * 1000000)
                          // n AS HUGEINT)) AS HUGEINT) AS rel_num,
            CAST(sum((CAST(t.nn AS HUGEINT) * x - CAST(n AS HUGEINT) * t.xx)
                     * (CAST(t.nn AS HUGEINT) * x - CAST(n AS HUGEINT) * t.xx)
                     * 1000000
                     // (CAST(n AS HUGEINT) * t.nn * t.nn)) AS HUGEINT) AS res_num,
            CAST(max(t.nn) AS BIGINT) AS nn, CAST(max(t.xx) AS BIGINT) AS xx,
            CAST(max(t.sq_all) AS HUGEINT) AS sq_all
        FROM per_bin CROSS JOIN tot t
    )
    SELECT nn AS n_docs,
           CAST((sq_all // (CAST(nn AS HUGEINT) * 1000000)) AS BIGINT) / 1000000.0 AS brier,
           CAST((rel_num // (CAST(nn AS HUGEINT) * 1000000)) AS BIGINT) / 1000000.0 AS reliability,
           CAST((res_num // nn) AS BIGINT) / 1000000.0 AS resolution,
           CAST((CAST(xx AS HUGEINT) * (nn - xx) * 1000000
                 // (CAST(nn AS HUGEINT) * nn)) AS BIGINT) / 1000000.0 AS uncertainty
    FROM terms
    """,
)
def q382_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        _score_micro().alias("v"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("v") / 100000).cast("bigint"), F.lit(9)).alias("bin"),
        "v",
        "y",
    )
    dev = _d38(F.col("v") - F.col("y") * 1000000)
    per_bin = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("x"),
        F.sum("v").cast("bigint").alias("c"),
        F.sum(dev * dev).cast("decimal(38,0)").alias("sq"),
    )
    tot = per_bin.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("x").cast("bigint").alias("xx"),
        F.sum("sq").cast("decimal(38,0)").alias("sq_all"),
    )
    rel_cell = _d38(F.col("c")) - _d38(F.col("x")) * F.lit(1000000).cast(
        "decimal(38,0)"
    )
    rel_term = rel_cell * rel_cell
    rel_q = (rel_term - F.pmod(rel_term, _d38(F.col("n")))) / _d38(F.col("n"))
    res_cell = _d38(F.col("nn")) * _d38(F.col("x")) - _d38(F.col("n")) * _d38(
        F.col("xx")
    )
    res_den = _d38(F.col("n")) * _d38(F.col("nn")) * _d38(F.col("nn"))
    res_term = res_cell * res_cell * F.lit(1000000).cast("decimal(38,0)")
    res_q = (res_term - F.pmod(res_term, res_den)) / res_den
    terms = per_bin.crossJoin(F.broadcast(tot)).agg(
        F.sum(rel_q.cast("decimal(38,0)")).cast("decimal(38,0)").alias("rel_num"),
        F.sum(res_q.cast("decimal(38,0)")).cast("decimal(38,0)").alias("res_num"),
        F.max("nn").cast("bigint").alias("nn"),
        F.max("xx").cast("bigint").alias("xx"),
        F.max("sq_all").cast("decimal(38,0)").alias("sq_all"),
    )

    def fq(num, den):
        return (
            ((num - F.pmod(num, den)) / den).cast("bigint").cast("double")
            / F.lit(1000000.0)
        )

    nn38 = _d38(F.col("nn"))
    unc_num = _d38(F.col("xx")) * _d38(F.col("nn") - F.col("xx")) * F.lit(
        1000000
    ).cast("decimal(38,0)")
    return terms.select(
        F.col("nn").alias("n_docs"),
        fq(F.col("sq_all"), nn38 * F.lit(1000000).cast("decimal(38,0)")).alias(
            "brier"
        ),
        fq(F.col("rel_num"), nn38 * F.lit(1000000).cast("decimal(38,0)")).alias(
            "reliability"
        ),
        fq(F.col("res_num"), nn38).alias("resolution"),
        fq(unc_num, nn38 * nn38).alias("uncertainty"),
    )


# ---------------------------------------------------------------------------
# q383 — Hosmer-Lemeshow goodness-of-fit over the same decile bins:
# per-bin chi-square contribution (O - E)^2 / (E (1 - E/n)) with
# E = the exact micro-integer sum of predicted probabilities — the
# calibration TEST to q345's calibration CURVE. Each contribution
# reduces to the exact integer rational (1e6*x - c)^2 * n * 1e6 /
# (c * (n*1e6 - c)), floored to micro on the 10-row bin spine; the
# statistic is their exact sum. The logistic score is strictly
# inside (0, 1e6) on this schema (n_chars 44..577), so the
# denominator is never 0 — still guarded for safety.
# ---------------------------------------------------------------------------
@query(
    "q383_hosmer_lemeshow",
    oracle=f"""
    WITH scored AS (
        SELECT {_SCORE_SQL} AS v,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    binned AS (
        SELECT least(CAST(v // 100000 AS BIGINT), 9) AS bin, v, y FROM scored
    ),
    per_bin AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS x,
               CAST(sum(v) AS BIGINT) AS c
        FROM binned GROUP BY bin
    ),
    terms AS (
        SELECT bin, n, x, c,
               CASE WHEN c > 0 AND c < n * 1000000
                    THEN CAST(((CAST(x AS HUGEINT) * 1000000 - c)
                               * (CAST(x AS HUGEINT) * 1000000 - c)
                               * n * 1000000)
                              // (CAST(c AS HUGEINT) * (CAST(n AS HUGEINT) * 1000000 - c))
                              AS BIGINT)
                    END AS hl_micro
        FROM per_bin
    )
    SELECT bin, n AS n_docs, x AS observed,
           round(CAST(c AS DOUBLE) / 1000000.0, 6) AS expected,
           CAST(hl_micro AS DOUBLE) / 1000000.0 AS hl_term,
           CAST(sum(hl_micro) OVER () AS BIGINT) / 1000000.0 AS hl_stat,
           CAST(count(*) OVER () - 2 AS BIGINT) AS df
    FROM terms ORDER BY bin
    """,
)
def q383_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        _score_micro().alias("v"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("v") / 100000).cast("bigint"), F.lit(9)).alias("bin"),
        "v",
        "y",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("x"),
        F.sum("v").cast("bigint").alias("c"),
    )
    m = F.lit(1000000).cast("decimal(38,0)")
    diff = _d38(F.col("x")) * m - _d38(F.col("c"))
    num = diff * diff * _d38(F.col("n")) * m
    den = _d38(F.col("c")) * (_d38(F.col("n")) * m - _d38(F.col("c")))
    terms = per_bin.select(
        "bin",
        "n",
        "x",
        "c",
        F.when(
            (F.col("c") > 0) & (_d38(F.col("c")) < _d38(F.col("n")) * m),
            ((num - F.pmod(num, den)) / den).cast("bigint"),
        ).alias("hl_micro"),
    )
    w_all = Window.partitionBy()
    return (
        terms.select(
            "bin",
            F.col("n").alias("n_docs"),
            F.col("x").alias("observed"),
            F.round(F.col("c").cast("double") / F.lit(1000000.0), 6).alias(
                "expected"
            ),
            (F.col("hl_micro").cast("double") / F.lit(1000000.0)).alias("hl_term"),
            (
                F.sum("hl_micro").over(w_all).cast("bigint").cast("double")
                / F.lit(1000000.0)
            ).alias("hl_stat"),
            (F.count("*").over(w_all) - 2).cast("bigint").alias("df"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q384 — mean log-loss (cross-entropy) of the logistic length score,
# with the base-rate entropy as the skill reference: the metric that
# punishes confident wrong scores the way Brier can't. Per-row losses
# -ln p are micro-rounded integers (the q217/q352 transcendental
# discipline) summed exactly; the mean floors to micro. Scores are
# clamped to [1, 999999] micro so ln never sees 0 (defensive — the
# schema keeps them strictly inside already).
# ---------------------------------------------------------------------------
@query(
    "q384_log_loss",
    oracle=f"""
    WITH scored AS (
        SELECT least(greatest({_SCORE_SQL}, 1), 999999) AS v,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    losses AS (
        SELECT y,
               CAST(round(-1000000.0 * ln(
                   CASE WHEN y = 1 THEN CAST(v AS DOUBLE) / 1000000.0
                        ELSE CAST(1000000 - v AS DOUBLE) / 1000000.0 END))
                   AS BIGINT) AS loss_micro
        FROM scored
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS x,
               CAST(sum(loss_micro) AS BIGINT) AS s
        FROM losses
    )
    SELECT n AS n_docs,
           CAST((s - s % n) // n AS BIGINT) / 1000000.0 AS mean_log_loss,
           CASE WHEN x > 0 AND x < n THEN
             round(-(CAST(x AS DOUBLE) / n) * ln(CAST(x AS DOUBLE) / n)
                   - (1.0 - CAST(x AS DOUBLE) / n) * ln(1.0 - CAST(x AS DOUBLE) / n),
                   6)
           ELSE 0.0 END AS base_rate_entropy
    FROM agg
    """,
)
def q384_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.least(F.greatest(_score_micro(), F.lit(1)), F.lit(999999)).alias("v"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    p = F.when(
        F.col("y") == 1, F.col("v").cast("double") / F.lit(1000000.0)
    ).otherwise((F.lit(1000000) - F.col("v")).cast("double") / F.lit(1000000.0))
    losses = scored.select(
        "y",
        F.round(F.lit(-1000000.0) * F.log(p)).cast("bigint").alias("loss_micro"),
    )
    agg = losses.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("x"),
        F.sum("loss_micro").cast("bigint").alias("s"),
    )
    rate = F.col("x").cast("double") / F.col("n")
    return agg.select(
        F.col("n").alias("n_docs"),
        (
            # DECIMAL operands (the file's _d38 discipline): a bigint/
            # bigint `/` is DOUBLE division in Spark, exact only below
            # 2^53 — the oracle's HUGEINT // has no such cliff
            ((_d38(F.col("s")) - F.pmod(_d38(F.col("s")), _d38(F.col("n"))))
             / _d38(F.col("n")))
            .cast("bigint")
            .cast("double")
            / F.lit(1000000.0)
        ).alias("mean_log_loss"),
        # 0 < x < n guard: a one-class corpus makes ln(0) — a HARD
        # DuckDB error (aborting the oracle run) vs Spark's NULL;
        # entropy of a degenerate balance is 0 on both engines
        F.when(
            (F.col("x") > 0) & (F.col("x") < F.col("n")),
            F.round(
                -rate * F.log(rate) - (F.lit(1.0) - rate) * F.log(F.lit(1.0) - rate),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("base_rate_entropy"),
    )


# ---------------------------------------------------------------------------
# q385 — linear-weighted Cohen's kappa between two fixed-threshold
# ordinal raters (length bands 250/350/450 chars vs word-count bands
# 32/55/76): the agreement metric for ordinal label audits where q357
# (unweighted) overcounts near-miss disagreement. FIXED literal
# thresholds deliberately — a global ntile would be a data-grain
# single-partition window (the q217 anti-pattern); fixed bands keep
# the rating fully distributed. The 4x4 agreement lattice is exact
# counts; kappa_w = 1 - n*sum(w*O)/sum(w*Oi.*O.j) is one exact
# integer rational, shift-floored to micro (negative-capable).
# ---------------------------------------------------------------------------
@query(
    "q385_weighted_kappa",
    oracle=f"""
    WITH rated AS (
        SELECT CASE WHEN n_chars < 250 THEN 0 WHEN n_chars < 350 THEN 1
                    WHEN n_chars < 450 THEN 2 ELSE 3 END AS ra,
               CASE WHEN len({_TOKS_SQL}) < 32 THEN 0
                    WHEN len({_TOKS_SQL}) < 55 THEN 1
                    WHEN len({_TOKS_SQL}) < 76 THEN 2 ELSE 3 END AS rb
        FROM documents
    ),
    cells AS (
        SELECT ra, rb, CAST(count(*) AS BIGINT) AS o FROM rated GROUP BY 1, 2
    ),
    margins_a AS (SELECT ra, CAST(sum(o) AS BIGINT) AS na FROM cells GROUP BY ra),
    margins_b AS (SELECT rb, CAST(sum(o) AS BIGINT) AS nb FROM cells GROUP BY rb),
    lattice AS (
        SELECT a.ra, b.rb, abs(a.ra - b.rb) AS w, a.na, b.nb,
               coalesce(c.o, 0) AS o
        FROM margins_a a CROSS JOIN margins_b b
        LEFT JOIN cells c ON c.ra = a.ra AND c.rb = b.rb
    ),
    sums AS (
        SELECT CAST(sum(CAST(w AS HUGEINT) * o) AS HUGEINT) AS wo,
               CAST(sum(CAST(w AS HUGEINT) * na * nb) AS HUGEINT) AS we,
               (SELECT CAST(sum(o) AS BIGINT) FROM cells) AS n
        FROM lattice
    )
    SELECT n AS n_docs,
           CAST(wo AS BIGINT) AS weighted_disagreement,
           CASE WHEN we > 0 THEN
                CAST(((we - CAST(n AS HUGEINT) * wo) * 1000000
                      + 1000000 * we
                      - ((we - CAST(n AS HUGEINT) * wo) * 1000000 + 1000000 * we) % we)
                     // we AS BIGINT) / 1000000.0 - 1.0
           END AS kappa_w
    FROM sums
    """,
)
def q385_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = load_table(spark, sf_dir, "documents")
    nw = F.size(tokens("text"))
    rated = docs.select(
        F.when(F.col("n_chars") < 250, 0)
        .when(F.col("n_chars") < 350, 1)
        .when(F.col("n_chars") < 450, 2)
        .otherwise(3)
        .alias("ra"),
        F.when(nw < 32, 0).when(nw < 55, 1).when(nw < 76, 2).otherwise(3).alias("rb"),
    )
    cells = rated.groupBy("ra", "rb").agg(F.count("*").cast("bigint").alias("o"))
    margins_a = cells.groupBy("ra").agg(F.sum("o").cast("bigint").alias("na"))
    margins_b = cells.groupBy("rb").agg(F.sum("o").cast("bigint").alias("nb"))
    lattice = (
        margins_a.crossJoin(F.broadcast(margins_b))
        .join(F.broadcast(cells), ["ra", "rb"], "left")
        .select(
            "ra",
            "rb",
            F.abs(F.col("ra") - F.col("rb")).cast("bigint").alias("w"),
            "na",
            "nb",
            F.coalesce("o", F.lit(0).cast("bigint")).alias("o"),
        )
    )
    n_tot = cells.agg(F.sum("o").cast("bigint").alias("n"))
    sums = lattice.crossJoin(F.broadcast(n_tot)).agg(
        F.sum(_d38(F.col("w")) * _d38(F.col("o"))).cast("decimal(38,0)").alias("wo"),
        F.sum(_d38(F.col("w")) * _d38(F.col("na")) * _d38(F.col("nb")))
        .cast("decimal(38,0)")
        .alias("we"),
        F.max("n").cast("bigint").alias("n"),
    )
    # kappa_w = 1 - n*wo/we == (we - n*wo)/we; the numerator can be
    # negative (worse-than-chance agreement), so shift by +we before
    # the floor-mod and subtract 1.0 after — Spark pmod is always
    # non-negative while DuckDB % follows the dividend sign, and the
    # shift makes both see a non-negative dividend.
    num = (F.col("we") - _d38(F.col("n")) * F.col("wo")).cast("decimal(38,0)")
    m = F.lit(1000000).cast("decimal(38,0)")
    shifted = num * m + m * F.col("we")
    return sums.select(
        F.col("n").alias("n_docs"),
        F.col("wo").cast("bigint").alias("weighted_disagreement"),
        F.when(  # we = 0 when both raters collapse to one band: kappa undefined
            F.col("we") > 0,
            ((shifted - F.pmod(shifted, F.col("we"))) / F.col("we"))
            .cast("bigint")
            .cast("double")
            / F.lit(1000000.0)
            - F.lit(1.0),
        ).alias("kappa_w"),
    )


# ---------------------------------------------------------------------------
# q386 — log-rank test comparing time-to-repeat-purchase between two
# user cohorts (even vs odd user_id — the deterministic A/B split):
# the significance test on top of q352's Kaplan-Meier curves. At
# each event time: O1 = observed group-1 events, E1 = d*n1/n and the
# hypergeometric variance d*n1*n2*(n-d) / (n^2*(n-1)) — each an
# exact integer rational floored to micro on the bounded duration
# spine, summed exactly; chi2 = (O1-E1)^2/V is one exact integer
# floor at the end. Groups never share a user, risk sets are exact
# cumulative counts.
# ---------------------------------------------------------------------------
@query(
    "q386_logrank_test",
    oracle="""
    WITH p AS (
        SELECT user_id, CAST(user_id % 2 AS BIGINT) AS g,
               CAST(date_diff('day', DATE '1992-01-01', CAST(ts AS DATE)) AS BIGINT) AS d
        FROM events WHERE event_type = 'purchase'
    ),
    horizon AS (SELECT max(d) AS dmax FROM p),
    per_user AS (
        SELECT user_id, CAST(max(g) AS BIGINT) AS g, min(d) AS first_d,
               min(CASE WHEN d > (SELECT min(d) FROM p p2 WHERE p2.user_id = p.user_id) THEN d END)
                   AS next_d
        FROM p GROUP BY user_id
    ),
    durations AS (
        SELECT g,
               CASE WHEN next_d IS NOT NULL THEN next_d - first_d
                    ELSE h.dmax - first_d END AS t,
               CASE WHEN next_d IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM per_user CROSS JOIN horizon h
    ),
    spine AS (
        SELECT t,
               CAST(count(*) FILTER (WHERE g = 1) AS BIGINT) AS a1,
               CAST(count(*) FILTER (WHERE g = 0) AS BIGINT) AS a0,
               CAST(coalesce(sum(ev) FILTER (WHERE g = 1), 0) AS BIGINT) AS d1,
               CAST(coalesce(sum(ev) FILTER (WHERE g = 0), 0) AS BIGINT) AS d0
        FROM durations GROUP BY t
    ),
    risk AS (
        SELECT t, d1, d0, d1 + d0 AS d,
               CAST(sum(a1) OVER () AS BIGINT)
                 - CAST(coalesce(sum(a1) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1,
               CAST(sum(a0) OVER () AS BIGINT)
                 - CAST(coalesce(sum(a0) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n0
        FROM spine
    ),
    terms AS (
        SELECT d1, d,
               CAST((CAST(d AS HUGEINT) * n1 * 1000000
                     - (CAST(d AS HUGEINT) * n1 * 1000000) % (n1 + n0))
                    // (n1 + n0) AS BIGINT) AS e1_micro,
               CASE WHEN n1 + n0 > 1
                    THEN CAST((CAST(d AS HUGEINT) * n1 * n0 * (n1 + n0 - d) * 1000000
                               - (CAST(d AS HUGEINT) * n1 * n0 * (n1 + n0 - d) * 1000000)
                                 % (CAST(n1 + n0 AS HUGEINT) * (n1 + n0) * (n1 + n0 - 1)))
                              // (CAST(n1 + n0 AS HUGEINT) * (n1 + n0) * (n1 + n0 - 1))
                              AS BIGINT)
                    ELSE 0 END AS v_micro
        FROM risk WHERE d > 0
    ),
    sums AS (
        SELECT CAST(sum(d1) AS BIGINT) AS o1,
               CAST(sum(e1_micro) AS BIGINT) AS e1_sum,
               CAST(sum(v_micro) AS BIGINT) AS v_sum
        FROM terms
    )
    SELECT o1 AS observed_g1,
           round(CAST(e1_sum AS DOUBLE) / 1000000.0, 6) AS expected_g1,
           CASE WHEN v_sum > 0
                THEN CAST(((CAST(o1 AS HUGEINT) * 1000000 - e1_sum)
                           * (CAST(o1 AS HUGEINT) * 1000000 - e1_sum))
                          // CAST(v_sum AS HUGEINT) AS BIGINT) / 1000000.0
           END AS logrank_chi2,
           CASE WHEN v_sum > 0
                THEN CAST(((CAST(o1 AS HUGEINT) * 1000000 - e1_sum)
                           * (CAST(o1 AS HUGEINT) * 1000000 - e1_sum))
                          // CAST(v_sum AS HUGEINT) AS BIGINT) / 1000000.0
                     > 3.841459
           END AS significant_05
    FROM sums
    """,
)
def q386_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.pmod(F.col("user_id"), F.lit(2)).cast("bigint").alias("g"),
        F.datediff(F.to_date("ts"), F.lit("1992-01-01")).cast("bigint").alias("d"),
    )
    horizon = p.agg(F.max("d").alias("dmax"))
    per_user = p.groupBy("user_id").agg(
        F.max("g").cast("bigint").alias("g"), F.min("d").alias("first_d")
    )
    nexts = (
        p.join(per_user.select("user_id", "first_d"), "user_id")
        .filter(F.col("d") > F.col("first_d"))
        .groupBy("user_id")
        .agg(F.min("d").alias("next_d"))
    )
    durations = (
        per_user.join(nexts, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            "g",
            F.when(F.col("next_d").isNotNull(), F.col("next_d") - F.col("first_d"))
            .otherwise(F.col("dmax") - F.col("first_d"))
            .alias("t"),
            F.when(F.col("next_d").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    spine = durations.groupBy("t").agg(
        F.count(F.when(F.col("g") == 1, 1)).cast("bigint").alias("a1"),
        F.count(F.when(F.col("g") == 0, 1)).cast("bigint").alias("a0"),
        F.sum(F.when(F.col("g") == 1, F.col("ev")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("g") == 0, F.col("ev")).otherwise(0))
        .cast("bigint")
        .alias("d0"),
    )
    w_all = Window.partitionBy()
    w_before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = spine.select(
        "t",
        "d1",
        "d0",
        (F.col("d1") + F.col("d0")).alias("d"),
        (
            F.sum("a1").over(w_all).cast("bigint")
            - F.coalesce(F.sum("a1").over(w_before), F.lit(0)).cast("bigint")
        ).alias("n1"),
        (
            F.sum("a0").over(w_all).cast("bigint")
            - F.coalesce(F.sum("a0").over(w_before), F.lit(0)).cast("bigint")
        ).alias("n0"),
    )
    m = F.lit(1000000).cast("decimal(38,0)")
    nn = _d38(F.col("n1") + F.col("n0"))
    e1_num = _d38(F.col("d")) * _d38(F.col("n1")) * m
    v_num = (
        _d38(F.col("d"))
        * _d38(F.col("n1"))
        * _d38(F.col("n0"))
        * _d38(F.col("n1") + F.col("n0") - F.col("d"))
        * m
    )
    v_den = nn * nn * _d38(F.col("n1") + F.col("n0") - 1)
    terms = risk.filter(F.col("d") > 0).select(
        "d1",
        ((e1_num - F.pmod(e1_num, nn)) / nn).cast("bigint").alias("e1_micro"),
        F.when(
            F.col("n1") + F.col("n0") > 1,
            ((v_num - F.pmod(v_num, v_den)) / v_den).cast("bigint"),
        )
        .otherwise(0)
        .alias("v_micro"),
    )
    sums = terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("e1_micro").cast("bigint").alias("e1_sum"),
        F.sum("v_micro").cast("bigint").alias("v_sum"),
    )
    diff = _d38(F.col("o1")) * m - _d38(F.col("e1_sum"))
    chi_num = diff * diff
    # chi_num is (O1-E1)^2 * 1e12 and v_sum is V * 1e6, so dividing by
    # v_sum alone yields chi2 in micro units (the extra *m here was the
    # round-8 double-scaling bug that deflated chi2 by 1e6).
    chi_den = _d38(F.col("v_sum"))
    chi2 = F.when(
        F.col("v_sum") > 0,
        ((chi_num - F.pmod(chi_num, chi_den)) / chi_den)
        .cast("bigint")
        .cast("double")
        / F.lit(1000000.0),
    )
    return sums.select(
        F.col("o1").alias("observed_g1"),
        F.round(F.col("e1_sum").cast("double") / F.lit(1000000.0), 6).alias(
            "expected_g1"
        ),
        chi2.alias("logrank_chi2"),
        (chi2 > F.lit(3.841459)).alias("significant_05"),
    )


def _daily_count_spine(o: DataFrame):
    """(daily, tot): per-day order counts on the 1992-01-01-anchored
    day index plus the (n_days, total) scalar — the shared spine of
    the q387-q391 residual-diagnostics family (review finding: the
    identical block was rebuilt four times)."""
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("d")
    ).agg(F.count("*").cast("bigint").alias("x"))
    tot = daily.agg(
        F.count("*").cast("bigint").alias("dd"),
        F.sum("x").cast("bigint").alias("s"),
    )
    return daily, tot


def _lag_autocorr_micro(o: DataFrame, max_lag: int) -> DataFrame:
    """(k, rho_micro, n) for k = 1..max_lag: exact-integer lag
    autocorrelations of the mean-centered daily counts (dd*x - s
    residuals, shift-floored to micro units) — the shared front half
    of q389 (Ljung-Box) and q390 (PACF); the review found the whole
    resid/rho pipeline duplicated with only the lag range differing.
    Scale shape: the day spine is calendar-bounded; the k-lag join is
    a shifted-rank equi-join against the broadcast lag lattice."""
    daily, tot = _daily_count_spine(o)
    w_ord = Window.orderBy("d")
    resid = daily.crossJoin(F.broadcast(tot)).select(
        F.row_number().over(w_ord).cast("bigint").alias("i"),
        (_d38(F.col("dd")) * _d38(F.col("x")) - _d38(F.col("s"))).alias("e"),
        F.col("dd").alias("n"),
    )
    den = resid.agg(
        F.sum(F.col("e") * F.col("e")).cast("decimal(38,0)").alias("d2"),
        F.max("n").cast("bigint").alias("n"),
    )
    lags = F.broadcast(
        resid.sparkSession.range(1, max_lag + 1).select(
            F.col("id").cast("bigint").alias("k")
        )
    )
    a = resid.select(F.col("i").alias("ia"), F.col("e").alias("ea"))
    b = resid.select(F.col("i").alias("ib"), F.col("e").alias("eb"))
    m = F.lit(1000000).cast("decimal(38,0)")
    pairs = (
        a.crossJoin(lags)
        .join(b, F.col("ib") == F.col("ia") - F.col("k"))
        .groupBy("k")
        .agg(F.sum(F.col("ea") * F.col("eb")).cast("decimal(38,0)").alias("num"))
        .crossJoin(F.broadcast(den))
    )
    shifted = F.col("num") * m + m * F.col("d2")
    return pairs.select(
        "k",
        (
            ((shifted - F.pmod(shifted, F.col("d2"))) / F.col("d2")).cast("bigint")
            - 1000000
        ).alias("rho_micro"),
        "n",
    )


# ---------------------------------------------------------------------------
# q387 — Durbin-Watson autocorrelation diagnostic on daily order
# counts: DW = sum (e_t - e_{t-1})^2 / sum e_t^2 on mean-centered
# residuals. Centering never touches a float: e_t scales to the
# exact integer d_t = D*x_t - S (D = days, S = total), the D^2
# factors cancel in the ratio, and both sums are exact
# DECIMAL(38,0) on the calendar-bounded day spine. The companion
# rho_hat = 1 - DW/2 derives from the already-floored micro value.
# ---------------------------------------------------------------------------
@query(
    "q387_durbin_watson",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS dd, CAST(sum(x) AS BIGINT) AS s FROM daily),
    resid AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
               CAST(t.dd AS HUGEINT) * x - t.s AS e
        FROM daily CROSS JOIN tot t
    ),
    stepped AS (
        SELECT e, lag(e) OVER (ORDER BY i) AS e_prev FROM resid
    ),
    sums AS (
        SELECT CAST(sum(CASE WHEN e_prev IS NOT NULL
                             THEN (e - e_prev) * (e - e_prev) ELSE 0 END) AS HUGEINT) AS num,
               CAST(sum(e * e) AS HUGEINT) AS den,
               CAST(count(*) AS BIGINT) AS n
        FROM stepped
    )
    SELECT n AS n_days,
           CAST((num * 1000000 - (num * 1000000) % den) // den AS BIGINT) / 1000000.0 AS dw,
           1.0 - CAST((num * 1000000 - (num * 1000000) % den) // den AS BIGINT) / 2000000.0 AS rho_hat
    FROM sums
    """,
)
def q387_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily, tot = _daily_count_spine(o)
    w_ord = Window.orderBy("d")
    resid = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        (_d38(F.col("dd")) * _d38(F.col("x")) - _d38(F.col("s"))).alias("e"),
    )
    stepped = resid.select("e", F.lag("e").over(w_ord).alias("e_prev"))
    sums = stepped.agg(
        F.sum(
            F.when(
                F.col("e_prev").isNotNull(),
                (F.col("e") - F.col("e_prev")) * (F.col("e") - F.col("e_prev")),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("num"),
        F.sum(F.col("e") * F.col("e")).cast("decimal(38,0)").alias("den"),
        F.count("*").cast("bigint").alias("n"),
    )
    m = F.lit(1000000).cast("decimal(38,0)")
    s = F.col("num") * m
    dw_micro = ((s - F.pmod(s, F.col("den"))) / F.col("den")).cast("bigint")
    return sums.select(
        F.col("n").alias("n_days"),
        (dw_micro.cast("double") / F.lit(1000000.0)).alias("dw"),
        (F.lit(1.0) - dw_micro.cast("double") / F.lit(2000000.0)).alias("rho_hat"),
    )


# ---------------------------------------------------------------------------
# q388 — Wald-Wolfowitz runs test on the sign sequence of the same
# centered daily counts (above/below the mean; exact-zero residuals
# count as above by convention): the non-parametric randomness check
# that catches regime clustering DW's lag-1 view can miss. R, n+,
# n- are exact integers off the day spine; the normal approximation
# z = (R - mu)/sigma is one identical double tree from those
# integers, rounded 6dp.
# ---------------------------------------------------------------------------
@query(
    "q388_runs_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS dd, CAST(sum(x) AS BIGINT) AS s FROM daily),
    signs AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
               CASE WHEN CAST(t.dd AS HUGEINT) * x - t.s >= 0 THEN 1 ELSE 0 END AS sgn
        FROM daily CROSS JOIN tot t
    ),
    flips AS (
        SELECT sgn, CASE WHEN lag(sgn) OVER (ORDER BY i) IS NOT NULL
                          AND lag(sgn) OVER (ORDER BY i) <> sgn THEN 1 ELSE 0 END AS flip
        FROM signs
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(sgn) AS BIGINT) AS n_up,
               CAST(count(*) - sum(sgn) AS BIGINT) AS n_dn,
               CAST(1 + sum(flip) AS BIGINT) AS r
        FROM flips
    )
    SELECT n AS n_days, n_up AS n_above, n_dn AS n_below, r AS n_runs,
           CASE WHEN n_up > 0 AND n_dn > 0 AND n > 1 THEN
               round((CAST(r AS DOUBLE)
                      - (1.0 + 2.0 * CAST(n_up AS DOUBLE) * CAST(n_dn AS DOUBLE)
                               / CAST(n AS DOUBLE)))
                     / sqrt(2.0 * CAST(n_up AS DOUBLE) * CAST(n_dn AS DOUBLE)
                            * (2.0 * CAST(n_up AS DOUBLE) * CAST(n_dn AS DOUBLE)
                               - CAST(n AS DOUBLE))
                            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) - 1.0))), 6)
           END AS z,
           CASE WHEN n_up > 0 AND n_dn > 0 AND n > 1 THEN
               abs(round((CAST(r AS DOUBLE)
                      - (1.0 + 2.0 * CAST(n_up AS DOUBLE) * CAST(n_dn AS DOUBLE)
                               / CAST(n AS DOUBLE)))
                     / sqrt(2.0 * CAST(n_up AS DOUBLE) * CAST(n_dn AS DOUBLE)
                            * (2.0 * CAST(n_up AS DOUBLE) * CAST(n_dn AS DOUBLE)
                               - CAST(n AS DOUBLE))
                            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) - 1.0))), 6)) > 1.959964
           END AS nonrandom_05
    FROM agg
    """,
)
def q388_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily, tot = _daily_count_spine(o)
    signs = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        F.when(
            _d38(F.col("dd")) * _d38(F.col("x")) - _d38(F.col("s")) >= 0, 1
        )
        .otherwise(0)
        .alias("sgn"),
    )
    w_ord = Window.orderBy("d")
    flips = signs.select(
        "sgn",
        F.when(
            F.lag("sgn").over(w_ord).isNotNull()
            & (F.lag("sgn").over(w_ord) != F.col("sgn")),
            1,
        )
        .otherwise(0)
        .alias("flip"),
    )
    agg = flips.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("sgn").cast("bigint").alias("n_up"),
        (F.count("*") - F.sum("sgn")).cast("bigint").alias("n_dn"),
        (F.lit(1) + F.sum("flip")).cast("bigint").alias("r"),
    )
    nd = F.col("n").cast("double")
    up, dn = F.col("n_up").cast("double"), F.col("n_dn").cast("double")
    mu = F.lit(1.0) + F.lit(2.0) * up * dn / nd
    var = (
        F.lit(2.0)
        * up
        * dn
        * (F.lit(2.0) * up * dn - nd)
        / (nd * nd * (nd - F.lit(1.0)))
    )
    z = F.when(
        (F.col("n_up") > 0) & (F.col("n_dn") > 0) & (F.col("n") > 1),
        F.round((F.col("r").cast("double") - mu) / F.sqrt(var), 6),
    )
    return agg.select(
        F.col("n").alias("n_days"),
        F.col("n_up").alias("n_above"),
        F.col("n_dn").alias("n_below"),
        F.col("r").alias("n_runs"),
        z.alias("z"),
        (F.abs(z) > F.lit(1.959964)).alias("nonrandom_05"),
    )


# ---------------------------------------------------------------------------
# q389 — Ljung-Box portmanteau test over lags 1..7 of the centered
# daily order counts: "is there ANY autocorrelation structure" — the
# gate before trusting q194's per-lag ACF readings. Each rho_k is an
# exact integer rational on the D-scaled residuals (shift-floored to
# micro — rho can be negative); each Q contribution
# n(n+2) rho_k^2/(n-k) is floored to micro from the integer
# rho_micro; the statistic is their exact sum, surfaced per lag with
# the cumulative Q. The lag spine is 7 rows; the lag-k products ride
# one index-shifted self-join of the bounded day spine.
# ---------------------------------------------------------------------------
@query(
    "q389_ljung_box",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS dd, CAST(sum(x) AS BIGINT) AS s FROM daily),
    resid AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
               CAST(t.dd AS HUGEINT) * x - t.s AS e, t.dd AS n
        FROM daily CROSS JOIN tot t
    ),
    den AS (SELECT CAST(sum(e * e) AS HUGEINT) AS d2, CAST(max(n) AS BIGINT) AS n FROM resid),
    lags AS (SELECT unnest(range(1, 8)) AS k),
    rho AS (
        SELECT l.k,
               CAST((CAST(sum(a.e * b.e) AS HUGEINT) * 1000000 + 1000000 * dn.d2
                     - (CAST(sum(a.e * b.e) AS HUGEINT) * 1000000 + 1000000 * dn.d2) % dn.d2)
                    // dn.d2 - 1000000 AS BIGINT) AS rho_micro,
               CAST(max(dn.n) AS BIGINT) AS n
        FROM lags l
        JOIN resid a ON TRUE
        JOIN resid b ON b.i = a.i - l.k
        CROSS JOIN den dn
        GROUP BY l.k, dn.d2
    ),
    terms AS (
        SELECT k, rho_micro, n,
               CAST((CAST(n AS HUGEINT) * (n + 2) * rho_micro * rho_micro
                     - (CAST(n AS HUGEINT) * (n + 2) * rho_micro * rho_micro)
                       % (CAST(n - k AS HUGEINT) * 1000000))
                    // (CAST(n - k AS HUGEINT) * 1000000) AS BIGINT) AS q_micro
        FROM rho
    )
    SELECT k AS lag, n AS n_days,
           CAST(rho_micro AS DOUBLE) / 1000000.0 AS rho,
           CAST(sum(q_micro) OVER (ORDER BY k) AS BIGINT) / 1000000.0 AS lb_q_cum
    FROM terms ORDER BY k
    """,
)
def q389_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = F.lit(1000000).cast("decimal(38,0)")
    rho = _lag_autocorr_micro(o, max_lag=7)
    q_num = (
        _d38(F.col("n"))
        * _d38(F.col("n") + 2)
        * _d38(F.col("rho_micro"))
        * _d38(F.col("rho_micro"))
    )
    q_den = _d38(F.col("n") - F.col("k")) * m
    terms = rho.select(
        "k",
        "rho_micro",
        "n",
        ((q_num - F.pmod(q_num, q_den)) / q_den).cast("bigint").alias("q_micro"),
    )
    w_cum = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        F.col("k").alias("lag"),
        F.col("n").alias("n_days"),
        (F.col("rho_micro").cast("double") / F.lit(1000000.0)).alias("rho"),
        (
            F.sum("q_micro").over(w_cum).cast("bigint").cast("double")
            / F.lit(1000000.0)
        ).alias("lb_q_cum"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# q390 — partial autocorrelation (lags 1..3) via the Durbin-Levinson
# recursion on the Ljung-Box rho's: the AR-order fingerprint (PACF
# cutoff picks p) computed as pure scalar algebra over the three
# 6dp-micro-rounded autocorrelations — the recursion is unrolled
# into ONE identical expression tree on both engines, so no
# sequential state crosses rows at all. Denominators are guarded at
# 1e-12 on identical doubles, so both engines take the same branch.
# ---------------------------------------------------------------------------
@query(
    "q390_pacf_durbin",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS dd, CAST(sum(x) AS BIGINT) AS s FROM daily),
    resid AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
               CAST(t.dd AS HUGEINT) * x - t.s AS e, t.dd AS n
        FROM daily CROSS JOIN tot t
    ),
    den AS (SELECT CAST(sum(e * e) AS HUGEINT) AS d2, CAST(max(n) AS BIGINT) AS n FROM resid),
    lags AS (SELECT unnest(range(1, 4)) AS k),
    rho AS (
        SELECT l.k,
               CAST((CAST(sum(a.e * b.e) AS HUGEINT) * 1000000 + 1000000 * dn.d2
                     - (CAST(sum(a.e * b.e) AS HUGEINT) * 1000000 + 1000000 * dn.d2) % dn.d2)
                    // dn.d2 - 1000000 AS BIGINT) AS rho_micro,
               CAST(max(dn.n) AS BIGINT) AS n
        FROM lags l
        JOIN resid a ON TRUE
        JOIN resid b ON b.i = a.i - l.k
        CROSS JOIN den dn
        GROUP BY l.k, dn.d2
    ),
    wide AS (
        SELECT CAST(max(n) AS BIGINT) AS n,
               max(CASE WHEN k = 1 THEN CAST(rho_micro AS DOUBLE) / 1000000.0 END) AS r1,
               max(CASE WHEN k = 2 THEN CAST(rho_micro AS DOUBLE) / 1000000.0 END) AS r2,
               max(CASE WHEN k = 3 THEN CAST(rho_micro AS DOUBLE) / 1000000.0 END) AS r3
        FROM rho
    ),
    lvl2 AS (
        SELECT n, r1, r2, r3,
               CASE WHEN abs(1.0 - r1 * r1) > 1e-12
                    THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS p22
        FROM wide
    ),
    lvl3 AS (
        SELECT n, r1, r2, r3, p22, r1 * (1.0 - p22) AS p21 FROM lvl2
    )
    SELECT n AS n_days,
           round(r1, 6) AS pacf_1,
           round(p22, 6) AS pacf_2,
           CASE WHEN abs(1.0 - p21 * r1 - p22 * r2) > 1e-12
                THEN round((r3 - p21 * r2 - p22 * r1)
                           / (1.0 - p21 * r1 - p22 * r2), 6) END AS pacf_3
    FROM lvl3
    """,
)
def q390_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    rho = _lag_autocorr_micro(o, max_lag=3)
    wide = rho.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(
            F.when(F.col("k") == 1, F.col("rho_micro").cast("double") / 1000000.0)
        ).alias("r1"),
        F.max(
            F.when(F.col("k") == 2, F.col("rho_micro").cast("double") / 1000000.0)
        ).alias("r2"),
        F.max(
            F.when(F.col("k") == 3, F.col("rho_micro").cast("double") / 1000000.0)
        ).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p22 = F.when(
        F.abs(F.lit(1.0) - r1 * r1) > 1e-12, (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    )
    lvl2 = wide.select("n", "r1", "r2", "r3", p22.alias("p22"))
    lvl3 = lvl2.select(
        "n", "r1", "r2", "r3", "p22", (r1 * (F.lit(1.0) - F.col("p22"))).alias("p21")
    )
    p21, p22c = F.col("p21"), F.col("p22")
    den3 = F.lit(1.0) - p21 * r1 - p22c * r2
    return lvl3.select(
        F.col("n").alias("n_days"),
        F.round(r1, 6).alias("pacf_1"),
        F.round(p22c, 6).alias("pacf_2"),
        F.when(
            F.abs(den3) > 1e-12,
            F.round((r3 - p21 * r2 - p22c * r1) / den3, 6),
        ).alias("pacf_3"),
    )


# ---------------------------------------------------------------------------
# q391 — EWMA control chart (lambda=0.2, L=3, asymptotic limits) on
# daily order counts: the monitoring decision layer over q181's EWMA
# — how many days would have alarmed, and where the statistic ended.
# The EWMA recurrence folds LEFT-TO-RIGHT with the IDENTICAL
# floating-point tree on both engines (the q333/q360 sequential-fold
# parity argument; Spark: one F.aggregate over the calendar-bounded
# collected array carrying (z, violations, last_violation_day);
# DuckDB: a recursive CTE stepping the same arithmetic). Limits
# derive from exact integer moments (mu = S/D, sigma^2 =
# (D*SS - S^2)/D^2) in one identical scalar tree.
# ---------------------------------------------------------------------------
@query(
    "q391_ewma_control",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    series AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i, d,
               CAST(x AS DOUBLE) AS y
        FROM daily
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss
        FROM daily
    ),
    lim AS (
        SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               + 3.0 * sqrt(CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
                            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                            * (0.2 / 1.8)) AS ucl,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               - 3.0 * sqrt(CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
                            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                            * (0.2 / 1.8)) AS lcl
        FROM stats
    ),
    chart(i, z, viol, last_d) AS (
        SELECT CAST(0 AS BIGINT), (SELECT mu FROM lim), CAST(0 AS BIGINT),
               CAST(NULL AS BIGINT)
        UNION ALL
        SELECT c.i + 1,
               0.2 * s.y + 0.8 * c.z,
               c.viol + CASE WHEN 0.2 * s.y + 0.8 * c.z > (SELECT ucl FROM lim)
                               OR 0.2 * s.y + 0.8 * c.z < (SELECT lcl FROM lim)
                             THEN 1 ELSE 0 END,
               CASE WHEN 0.2 * s.y + 0.8 * c.z > (SELECT ucl FROM lim)
                      OR 0.2 * s.y + 0.8 * c.z < (SELECT lcl FROM lim)
                    THEN s.d ELSE c.last_d END
        FROM chart c JOIN series s ON s.i = c.i + 1
    )
    SELECT (SELECT n FROM lim) AS n_days,
           round((SELECT mu FROM lim), 6) AS center,
           round((SELECT ucl FROM lim), 6) AS ucl,
           round((SELECT lcl FROM lim), 6) AS lcl,
           round(z, 6) AS final_ewma,
           viol AS n_violations, last_d AS last_violation_day
    FROM chart WHERE i = (SELECT n FROM lim)
    """,
)
def q391_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("d")
    ).agg(F.count("*").cast("bigint").alias("x"))
    stats = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(_d38(F.col("x")) * _d38(F.col("x"))).cast("decimal(38,0)").alias("ss"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s").cast("double") / nd
    sig = F.sqrt(
        (_d38(F.col("n")) * F.col("ss") - _d38(F.col("s")) * _d38(F.col("s"))).cast(
            "double"
        )
        / (nd * nd)
        * (F.lit(0.2) / F.lit(1.8))
    )
    lim = stats.select(
        "n",
        mu.alias("mu"),
        (mu + F.lit(3.0) * sig).alias("ucl"),
        (mu - F.lit(3.0) * sig).alias("lcl"),
    )
    one = daily.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("d"), F.col("x").cast("double").alias("y"))
            )
        ).alias("arr")
    ).crossJoin(F.broadcast(lim))
    arr = F.col("arr")
    init = F.struct(
        F.col("mu").alias("z"),
        F.lit(0).cast("bigint").alias("viol"),
        F.lit(None).cast("bigint").alias("last_d"),
    )

    def step(acc, s):
        z_new = F.lit(0.2) * s["y"] + F.lit(0.8) * acc["z"]
        hit = (z_new > F.col("ucl")) | (z_new < F.col("lcl"))
        return F.struct(
            z_new.alias("z"),
            (acc["viol"] + F.when(hit, 1).otherwise(0)).cast("bigint").alias("viol"),
            F.when(hit, s["d"]).otherwise(acc["last_d"]).alias("last_d"),
        )

    folded = one.select(
        F.col("n").alias("n_days"),
        F.round(F.col("mu"), 6).alias("center"),
        F.round(F.col("ucl"), 6).alias("ucl"),
        F.round(F.col("lcl"), 6).alias("lcl"),
        F.aggregate(arr, init, step).alias("st"),
    )
    return folded.select(
        "n_days",
        "center",
        "ucl",
        "lcl",
        F.round(F.col("st.z"), 6).alias("final_ewma"),
        F.col("st.viol").alias("n_violations"),
        F.col("st.last_d").alias("last_violation_day"),
    )


def banded_wasserstein(
    spark: SparkSession, sf_dir: str, reference_source: str | None = None
) -> DataFrame:
    """W1 (earth-mover) distance of every source's length distribution
    vs ONE reference source — the linear-pair-count drift spine
    (VERDICT r07 item 9): q368's all-pairs formulation is quadratic in
    |sources| (fine for dozens, wrong for thousands); banding every
    comparison to a chosen baseline keeps the spine at |sources| - 1
    pairs while answering the monitoring question drift checks
    actually ask ("who moved vs the reference crawl"). reference_source
    defaults to the lexicographically-first source (deterministic).

    Same exactness as q368: ECDF gaps ride exact integer prefix
    counts on the (source, distinct-length) spine; each segment
    contribution |F_a - F_ref| * (v_next - v) is an exact integer
    rational floored to micro.
    """
    from pipeline_usnvc_spark.operators.checkpoint import materialize

    docs = load_table(spark, sf_dir, "documents")
    # Materialized (r13): five consumers (ref, the source list, the
    # value spine, both padded-count joins) each re-ran the documents
    # scan + groupBy — the optimizer specializes every copy, so the
    # exchanges never canonicalize equal. (source x distinct length)
    # is value-domain bounded: KBs at any corpus size.
    cnt = materialize(
        docs.groupBy("source", F.col("n_chars").alias("v")).agg(
            F.count("*").cast("bigint").alias("c")
        )
    )
    if reference_source is None:
        ref = cnt.agg(F.min("source").alias("ref"))
    else:
        ref = spark.createDataFrame([(reference_source,)], "ref string")
    others = (
        cnt.select("source")
        .distinct()
        .crossJoin(F.broadcast(ref))
        .filter(F.col("source") != F.col("ref"))
        .select(F.col("ref").alias("sa"), F.col("source").alias("sb"))
    )
    vals = cnt.select("v").distinct()
    spine = (
        others.crossJoin(F.broadcast(vals))
        .join(
            cnt.select(F.col("source").alias("sa"), "v", F.col("c").alias("ca")),
            ["sa", "v"],
            "left",
        )
        .join(
            cnt.select(F.col("source").alias("sb"), "v", F.col("c").alias("cb")),
            ["sb", "v"],
            "left",
        )
        .select(
            "sa",
            "sb",
            "v",
            F.coalesce("ca", F.lit(0).cast("bigint")).alias("ca"),
            F.coalesce("cb", F.lit(0).cast("bigint")).alias("cb"),
        )
        .filter(F.col("ca") + F.col("cb") > 0)
    )
    w_cum = Window.partitionBy("sa", "sb").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_ord = Window.partitionBy("sa", "sb").orderBy("v")
    w_pair = Window.partitionBy("sa", "sb")
    cum = spine.select(
        "sa",
        "sb",
        "v",
        F.sum(_d38(F.col("ca"))).over(w_cum).alias("cfa"),
        F.sum(_d38(F.col("cb"))).over(w_cum).alias("cfb"),
        F.lead("v").over(w_ord).alias("v_next"),
        F.sum("ca").over(w_pair).cast("bigint").alias("n"),
        F.sum("cb").over(w_pair).cast("bigint").alias("m"),
    )
    seg = cum.filter(F.col("v_next").isNotNull())
    gap = F.abs(
        F.col("cfa") * _d38(F.col("m")) - F.col("cfb") * _d38(F.col("n"))
    ) * _d38(F.col("v_next") - F.col("v"))
    mm = F.lit(1000000).cast("decimal(38,0)")
    nm = _d38(F.col("n")) * _d38(F.col("m"))
    seg_micro = (
        ((gap * mm) - F.pmod(gap * mm, nm)) / nm
    ).cast("bigint")
    agg = seg.groupBy("sa", "sb").agg(
        F.max("n").cast("bigint").alias("n_ref"),
        F.max("m").cast("bigint").alias("n_src"),
        F.sum(seg_micro).cast("bigint").alias("w1_micro_sum"),
    )
    return agg.select(
        F.col("sa").alias("reference_source"),
        F.col("sb").alias("source"),
        "n_ref",
        "n_src",
        (F.col("w1_micro_sum").cast("double") / F.lit(1000000.0)).alias("w1_chars"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q392 — the registered banded-drift query: W1 vs the
# lexicographically-first reference source (banded_wasserstein with
# the default parameter). |sources| - 1 pairs — LINEAR in source
# count where q368's full pair matrix is quadratic; at thousands of
# crawl sources this is the only shape that survives.
# ---------------------------------------------------------------------------
@query(
    "q392_banded_drift_reference",
    oracle="""
    WITH cnt AS (
        SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    ref AS (SELECT min(source) AS ref FROM cnt),
    pairs AS (
        SELECT r.ref AS sa, s.source AS sb
        FROM (SELECT DISTINCT source FROM cnt) s CROSS JOIN ref r
        WHERE s.source <> r.ref
    ),
    spine AS (
        SELECT p.sa, p.sb, v.v,
               coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb
        FROM pairs p
        JOIN (SELECT DISTINCT cnt.v FROM cnt) v ON TRUE
        LEFT JOIN cnt ca ON ca.source = p.sa AND ca.v = v.v
        LEFT JOIN cnt cb ON cb.source = p.sb AND cb.v = v.v
        WHERE coalesce(ca.c, 0) + coalesce(cb.c, 0) > 0
    ),
    cum AS (
        SELECT sa, sb, v, ca, cb,
               CAST(sum(ca) OVER w AS HUGEINT) AS cfa,
               CAST(sum(cb) OVER w AS HUGEINT) AS cfb,
               lead(v) OVER (PARTITION BY sa, sb ORDER BY v) AS v_next,
               CAST(sum(ca) OVER (PARTITION BY sa, sb) AS BIGINT) AS n,
               CAST(sum(cb) OVER (PARTITION BY sa, sb) AS BIGINT) AS m
        FROM spine
        WINDOW w AS (PARTITION BY sa, sb ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    segs AS (
        SELECT sa, sb, n, m,
               CAST((abs(cfa * m - cfb * n) * (v_next - v) * 1000000
                     - (abs(cfa * m - cfb * n) * (v_next - v) * 1000000)
                       % (CAST(n AS HUGEINT) * m))
                    // (CAST(n AS HUGEINT) * m) AS BIGINT) AS seg_micro
        FROM cum WHERE v_next IS NOT NULL
    )
    SELECT sa AS reference_source, sb AS source,
           CAST(max(n) AS BIGINT) AS n_ref, CAST(max(m) AS BIGINT) AS n_src,
           CAST(sum(seg_micro) AS BIGINT) / 1000000.0 AS w1_chars
    FROM segs GROUP BY sa, sb ORDER BY source
    """,
)
def q392_banded_drift_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    return banded_wasserstein(spark, sf_dir)


# ---------------------------------------------------------------------------
# q393 — Chao1 species-richness estimate of each source's vocabulary:
# "how many distinct terms does this crawl REALLY have, counting the
# ones we haven't seen yet" — the coverage planner's companion to
# q342's Good-Turing unseen mass. Bias-corrected form
# S + f1*(f1-1)/(2*(f2+1)) never divides by zero; everything is
# exact integers off the (source, term-frequency) spine, the
# correction floors to micro.
# ---------------------------------------------------------------------------
@query(
    "q393_chao1_richness",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest({_TOKS_SQL}) AS term FROM documents
    ),
    tc AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2
    ),
    ff AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS s_obs,
               CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS f1,
               CAST(count(*) FILTER (WHERE c = 2) AS BIGINT) AS f2
        FROM tc GROUP BY source
    )
    SELECT source, s_obs, f1, f2,
           s_obs + CAST((CAST(f1 AS HUGEINT) * (f1 - 1) * 1000000
                         - (CAST(f1 AS HUGEINT) * (f1 - 1) * 1000000)
                           % (2 * (f2 + 1)))
                        // (2 * (f2 + 1)) AS BIGINT) / 1000000.0 AS chao1
    FROM ff ORDER BY source
    """,
)
def q393_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    ff = tc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("s_obs"),
        F.count(F.when(F.col("c") == 1, 1)).cast("bigint").alias("f1"),
        F.count(F.when(F.col("c") == 2, 1)).cast("bigint").alias("f2"),
    )
    num = _d38(F.col("f1")) * _d38(F.col("f1") - 1) * F.lit(1000000).cast(
        "decimal(38,0)"
    )
    den = _d38(F.lit(2) * (F.col("f2") + 1))
    return ff.select(
        "source",
        "s_obs",
        "f1",
        "f2",
        (
            F.col("s_obs").cast("double")
            + ((num - F.pmod(num, den)) / den).cast("bigint").cast("double")
            / F.lit(1000000.0)
        ).alias("chao1"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q394 — Heaps' law fit V = K * N^beta over 10 nested id-range corpus
# prefixes: the vocabulary-growth exponent that prices "how much new
# vocab does the next 10x of crawl buy" (q393's Chao1 asks the same
# question at fixed N; Heaps extrapolates in N). Prefixes are
# doc_id-range cuts (NO global rank window — id bounds come from one
# scalar max); V_k counts terms whose FIRST occurrence id is within
# the bound (one min per term), N_k sums tokens per prefix — both
# ride single groupBys joined to the bounded 10-row prefix spine.
# The ln-ln OLS runs on micro-rounded logs with exact integer sums;
# the slope/intercept are identical final trees.
# ---------------------------------------------------------------------------
@query(
    "q394_heaps_law",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
    ),
    bounds AS (SELECT max(doc_id) AS mx FROM documents),
    spine AS (
        SELECT k, CAST((SELECT mx FROM bounds) * k // 10 AS BIGINT) AS id_bound
        FROM (SELECT unnest(range(1, 11)) AS k)
    ),
    term_first AS (SELECT term, min(doc_id) AS first_id FROM toks GROUP BY term),
    doc_tokens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY doc_id),
    pts AS (
        SELECT s.k,
               (SELECT CAST(count(*) AS BIGINT) FROM term_first t
                WHERE t.first_id <= s.id_bound) AS v,
               (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) FROM doc_tokens d
                WHERE d.doc_id <= s.id_bound) AS n
        FROM spine s
    ),
    lg AS (
        SELECT k,
               CAST(round(1000000.0 * ln(CAST(n AS DOUBLE))) AS BIGINT) AS x,
               CAST(round(1000000.0 * ln(CAST(v AS DOUBLE))) AS BIGINT) AS y
        FROM pts WHERE n > 0 AND v > 0
    ),
    sums AS (
        SELECT CAST(count(*) AS HUGEINT) AS g,
               CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        FROM lg
    )
    SELECT CAST(g AS BIGINT) AS n_prefixes,
           CASE WHEN g * sxx - sx * sx <> 0
                THEN round(CAST(g * sxy - sx * sy AS DOUBLE)
                           / CAST(g * sxx - sx * sx AS DOUBLE), 6) END AS heaps_beta,
           CASE WHEN g * sxx - sx * sx <> 0
                THEN round((CAST(sy AS DOUBLE)
                            - (CAST(g * sxy - sx * sy AS DOUBLE)
                               / CAST(g * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                           / CAST(g AS DOUBLE) / 1000000.0, 6) END AS ln_k
    FROM sums
    """,
)
def q394_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    bounds = docs.agg(F.max("doc_id").alias("mx"))
    spine = (
        spark.range(1, 11)
        .select(F.col("id").cast("bigint").alias("k"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "k",
            F.floor(F.col("mx") * F.col("k") / 10).cast("bigint").alias("id_bound"),
        )
    )
    term_first = toks.groupBy("term").agg(F.min("doc_id").alias("first_id"))
    # nt from array size, map-side (r13): the exploded-count groupBy
    # re-executed the tokenize+explode map pass (term_first's subtree
    # shares no exchange with it) AND paid a doc-keyed shuffle.
    # size(tokens) per row is the same integer; zero-token docs now
    # carry nt=0 rows where the explode produced none — they add 0 to
    # every prefix sum, so n_per is unchanged.
    doc_tokens = docs.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("nt")
    )
    v_per = (
        term_first.crossJoin(F.broadcast(spine))
        .filter(F.col("first_id") <= F.col("id_bound"))
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("v"))
    )
    n_per = (
        doc_tokens.crossJoin(F.broadcast(spine))
        .filter(F.col("doc_id") <= F.col("id_bound"))
        .groupBy("k")
        .agg(F.sum("nt").cast("bigint").alias("n"))
    )
    pts = spine.join(v_per, "k", "left").join(n_per, "k", "left").select(
        "k",
        F.coalesce("v", F.lit(0).cast("bigint")).alias("v"),
        F.coalesce("n", F.lit(0).cast("bigint")).alias("n"),
    )
    lg = pts.filter((F.col("n") > 0) & (F.col("v") > 0)).select(
        "k",
        F.round(F.lit(1000000.0) * F.log(F.col("n").cast("double")))
        .cast("bigint")
        .alias("x"),
        F.round(F.lit(1000000.0) * F.log(F.col("v").cast("double")))
        .cast("bigint")
        .alias("y"),
    )
    sums = lg.agg(
        F.count("*").cast("decimal(38,0)").alias("g"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(_d38(F.col("x")) * _d38(F.col("y"))).cast("decimal(38,0)").alias("sxy"),
        F.sum(_d38(F.col("x")) * _d38(F.col("x"))).cast("decimal(38,0)").alias("sxx"),
    )
    det = (F.col("g") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    beta = (F.col("g") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / det
    return sums.select(
        F.col("g").cast("bigint").alias("n_prefixes"),
        F.when(det != 0, F.round(beta, 6)).alias("heaps_beta"),
        F.when(
            det != 0,
            F.round(
                (F.col("sy").cast("double") - beta * F.col("sx").cast("double"))
                / F.col("g").cast("double")
                / F.lit(1000000.0),
                6,
            ),
        ).alias("ln_k"),
    )


# ---------------------------------------------------------------------------
# q395 — Atkinson inequality index (epsilon = 0.5) of positive
# customer balances: the welfare-economics companion to q232's Gini —
# how much total balance society would give up for equality. For
# eps=0.5 the index closes to 1 - (mean of sqrt(x))^2 / mean(x); the
# per-row sqrt micro-rounds to an exact integer (the q217
# transcendental rule), both moments are exact sums, and the final
# ratio floors to micro. Positive filter documented: the generalized
# mean is undefined below zero.
# ---------------------------------------------------------------------------
@query(
    "q395_atkinson_index",
    oracle="""
    WITH pos AS (
        SELECT CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer WHERE c_acctbal > 0
    ),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s,
               CAST(sum(CAST(round(1000000.0 * sqrt(CAST(cents AS DOUBLE) / 100.0))
                             AS BIGINT)) AS HUGEINT) AS rs
        FROM pos
    )
    SELECT n AS n_accounts,
           round(CAST(s AS DOUBLE) / 100.0 / CAST(n AS DOUBLE), 6) AS mean_balance,
           1.0 - CAST((rs * rs * 1000000
                       - (rs * rs * 1000000) % (CAST(n AS HUGEINT) * s * 10000000000))
                      // (CAST(n AS HUGEINT) * s * 10000000000) AS BIGINT) / 1000000.0
               AS atkinson_05
    FROM sums
    """,
)
def q395_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0).select(
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("cents")
    )
    sums = pos.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(
            F.round(
                F.lit(1000000.0) * F.sqrt(F.col("cents").cast("double") / F.lit(100.0))
            ).cast("bigint")
        )
        .cast("decimal(38,0)")
        .alias("rs"),
    )
    num = F.col("rs") * F.col("rs") * F.lit(1000000).cast("decimal(38,0)")
    den = (
        _d38(F.col("n"))
        * _d38(F.col("s"))
        * F.lit(10000000000).cast("decimal(38,0)")
    )
    return sums.select(
        F.col("n").alias("n_accounts"),
        F.round(
            F.col("s").cast("double") / F.lit(100.0) / F.col("n").cast("double"), 6
        ).alias("mean_balance"),
        (
            F.lit(1.0)
            - ((num - F.pmod(num, den)) / den).cast("bigint").cast("double")
            / F.lit(1000000.0)
        ).alias("atkinson_05"),
    )


# ---------------------------------------------------------------------------
# q396 — Lorenz curve at deciles of positive customer balances
# WITHOUT a data-grain rank window: group to the distinct-cents
# value spine first, then cumulative counts/cents; the k-th decile
# boundary ceil(k*n/10) lands inside a spine row, where every
# account holds the SAME value — so the boundary share interpolates
# exactly in integers: cents_before + (boundary - count_before) * v.
# The curve q232's Gini scalar summarizes, point by point.
# ---------------------------------------------------------------------------
@query(
    "q396_lorenz_deciles",
    oracle="""
    WITH pos AS (
        SELECT CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer WHERE c_acctbal > 0
    ),
    vals AS (
        SELECT cents, CAST(count(*) AS BIGINT) AS c FROM pos GROUP BY cents
    ),
    cum AS (
        SELECT cents, c,
               CAST(sum(c) OVER w AS BIGINT) AS cnt_cum,
               CAST(sum(CAST(cents AS HUGEINT) * c) OVER w AS HUGEINT) AS cents_cum,
               CAST(sum(c) OVER () AS BIGINT) AS n,
               CAST(sum(CAST(cents AS HUGEINT) * c) OVER () AS HUGEINT) AS total
        FROM vals
        WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    deciles AS (
        SELECT k, CAST((k * (SELECT max(n) FROM cum) + 9) // 10 AS BIGINT) AS b
        FROM (SELECT unnest(range(1, 11)) AS k)
    ),
    hit AS (
        SELECT d.k, d.b, c.cents, c.c, c.cnt_cum, c.cents_cum, c.n, c.total,
               row_number() OVER (PARTITION BY d.k ORDER BY c.cents) AS rn
        FROM deciles d JOIN cum c ON c.cnt_cum >= d.b
    )
    SELECT k AS decile, b AS n_poorest,
           CAST((CAST((cents_cum - CAST(cnt_cum - b AS HUGEINT) * cents) AS HUGEINT) * 1000000
                 - (CAST((cents_cum - CAST(cnt_cum - b AS HUGEINT) * cents) AS HUGEINT) * 1000000)
                   % total)
                // total AS BIGINT) / 1000000.0 AS cum_share
    FROM hit WHERE rn = 1 ORDER BY k
    """,
)
def q396_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0).select(
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("cents")
    )
    vals = pos.groupBy("cents").agg(F.count("*").cast("bigint").alias("c"))
    w_cum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = vals.select(
        "cents",
        "c",
        F.sum("c").over(w_cum).cast("bigint").alias("cnt_cum"),
        F.sum(_d38(F.col("cents")) * _d38(F.col("c")))
        .over(w_cum)
        .cast("decimal(38,0)")
        .alias("cents_cum"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
        F.sum(_d38(F.col("cents")) * _d38(F.col("c")))
        .over(w_all)
        .cast("decimal(38,0)")
        .alias("total"),
    )
    n_tot = cum.agg(F.max("n").alias("n"))
    deciles = (
        spark.range(1, 11)
        .select(F.col("id").cast("bigint").alias("k"))
        .crossJoin(F.broadcast(n_tot))
        .select(
            "k",
            F.floor((F.col("k") * F.col("n") + 9) / 10).cast("bigint").alias("b"),
        )
    )
    hit = deciles.join(cum, F.col("cnt_cum") >= F.col("b"))
    w_first = Window.partitionBy("k").orderBy("cents")
    first = hit.withColumn("rn", F.row_number().over(w_first)).filter(
        F.col("rn") == 1
    )
    at_b = (
        F.col("cents_cum")
        - _d38(F.col("cnt_cum") - F.col("b")) * _d38(F.col("cents"))
    ).cast("decimal(38,0)")
    m = F.lit(1000000).cast("decimal(38,0)")
    s = at_b * m
    return first.select(
        F.col("k").alias("decile"),
        F.col("b").alias("n_poorest"),
        (
            ((s - F.pmod(s, F.col("total"))) / F.col("total"))
            .cast("bigint")
            .cast("double")
            / F.lit(1000000.0)
        ).alias("cum_share"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# q397 — term burstiness (variance-to-mean ratio of per-document
# counts) for the corpus top-50 terms: bursty terms (VMR >> 1)
# cluster in few documents — topical signal; VMR ~ 1 is Poisson
# background — function words. The dedup/quality families key on
# exactly this distinction. Top-50 selection is tie-free (count
# desc, term asc) on the term spine; VMR = (df*SS - S^2)/(df*S) is
# an exact integer rational over occurring documents, floored to
# micro.
# ---------------------------------------------------------------------------
@query(
    "q397_term_burstiness",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
    ),
    td AS (
        SELECT term, doc_id, CAST(count(*) AS BIGINT) AS x
        FROM toks GROUP BY 1, 2
    ),
    stats AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df,
               CAST(sum(x) AS BIGINT) AS s,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss
        FROM td GROUP BY term
    ),
    top AS (
        SELECT term, df, s, ss FROM stats
        ORDER BY s DESC, term ASC LIMIT 50
    )
    SELECT term, df AS n_docs, s AS total_count,
           CAST((CAST(df AS HUGEINT) * ss - CAST(s AS HUGEINT) * s) * 1000000
                // (CAST(df AS HUGEINT) * s) AS BIGINT) / 1000000.0 AS vmr
    FROM top ORDER BY term
    """,
)
def q397_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = load_table(spark, sf_dir, "documents")
    td = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    stats = td.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(_d38(F.col("x")) * _d38(F.col("x"))).cast("decimal(38,0)").alias("ss"),
    )
    top = stats.orderBy(F.col("s").desc(), F.col("term").asc()).limit(50)
    num = (
        (_d38(F.col("df")) * F.col("ss") - _d38(F.col("s")) * _d38(F.col("s")))
        * F.lit(1000000).cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    den = _d38(F.col("df")) * _d38(F.col("s"))
    return top.select(
        "term",
        F.col("df").alias("n_docs"),
        F.col("s").alias("total_count"),
        (
            ((num - F.pmod(num, den)) / den).cast("bigint").cast("double")
            / F.lit(1000000.0)
        ).alias("vmr"),
    ).orderBy("term")


# ---------------------------------------------------------------------------
# q398 — exact audience Jaccard between every pair of event types:
# the overlap matrix behind cross-sell and dedup decisions, computed
# EXACTLY (q372 estimates the same quantity from HLL sketches — this
# is its ground truth as a first-class query). One (type, user)
# dedup, one self-join on user at the bounded type-pair lattice;
# J = |A n B| / (|A| + |B| - |A n B|) floors to micro.
# ---------------------------------------------------------------------------
@query(
    "q398_audience_jaccard",
    oracle="""
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY 1),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_inter
        FROM tu a JOIN tu b ON b.user_id = a.user_id
                 AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT sa.event_type AS type_a, sb.event_type AS type_b,
           sa.n AS n_a, sb.n AS n_b,
           coalesce(i.n_inter, 0) AS n_intersection,
           CAST((CAST(coalesce(i.n_inter, 0) AS HUGEINT) * 1000000
                 - (CAST(coalesce(i.n_inter, 0) AS HUGEINT) * 1000000)
                   % (sa.n + sb.n - coalesce(i.n_inter, 0)))
                // (sa.n + sb.n - coalesce(i.n_inter, 0)) AS BIGINT) / 1000000.0
               AS jaccard
    FROM sizes sa JOIN sizes sb ON sa.event_type < sb.event_type
    LEFT JOIN inter i ON i.type_a = sa.event_type AND i.type_b = sb.event_type
    ORDER BY type_a, type_b
    """,
)
def q398_audience_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    inter = (
        tu.alias("a")
        .join(
            tu.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    pairs = (
        sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
        .join(
            sizes.select(
                F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
            ),
            F.col("type_a") < F.col("type_b"),
        )
        .join(F.broadcast(inter), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            F.coalesce("n_inter", F.lit(0).cast("bigint")).alias("n_intersection"),
        )
    )
    m = F.lit(1000000).cast("decimal(38,0)")
    num = _d38(F.col("n_intersection")) * m
    den = _d38(F.col("n_a") + F.col("n_b") - F.col("n_intersection"))
    return pairs.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_intersection",
        (
            ((num - F.pmod(num, den)) / den).cast("bigint").cast("double")
            / F.lit(1000000.0)
        ).alias("jaccard"),
    ).orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# q399 — functional-dependency violation profile: does source -> lang
# hold in the documents table, and how badly not? For each source:
# the majority lang, how many docs deviate from it, and the
# violation rate — the schema-inference / data-contract audit a
# curation pipeline runs before trusting a column as a partition
# key. Majority pick is tie-free (count desc, lang asc) on the
# bounded (source, lang) spine; rates floor to micro.
# ---------------------------------------------------------------------------
@query(
    "q399_fd_violation_profile",
    oracle="""
    WITH sl AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    ranked AS (
        SELECT source, lang, c,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, lang ASC) AS rk,
               CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n,
               CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_langs
        FROM sl
    )
    SELECT source, lang AS majority_lang, n AS n_docs, n_langs,
           n - c AS n_violations,
           CAST((CAST(n - c AS HUGEINT) * 1000000
                 - (CAST(n - c AS HUGEINT) * 1000000) % n) // n AS BIGINT) / 1000000.0
               AS violation_rate,
           n_langs = 1 AS fd_holds
    FROM ranked WHERE rk = 1 ORDER BY source
    """,
)
def q399_fd_violation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(F.count("*").cast("bigint").alias("c"))
    w_rank = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("lang").asc()
    )
    w_src = Window.partitionBy("source")
    ranked = sl.select(
        "source",
        "lang",
        "c",
        F.row_number().over(w_rank).alias("rk"),
        F.sum("c").over(w_src).cast("bigint").alias("n"),
        F.count("*").over(w_src).cast("bigint").alias("n_langs"),
    )
    m = F.lit(1000000).cast("decimal(38,0)")
    viol = _d38(F.col("n") - F.col("c")) * m
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            "source",
            F.col("lang").alias("majority_lang"),
            F.col("n").alias("n_docs"),
            "n_langs",
            (F.col("n") - F.col("c")).alias("n_violations"),
            (
                ((viol - F.pmod(viol, _d38(F.col("n")))) / _d38(F.col("n")))
                .cast("bigint")
                .cast("double")
                / F.lit(1000000.0)
            ).alias("violation_rate"),
            (F.col("n_langs") == 1).alias("fd_holds"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q400 — Bloom-filter membership audit. HASH-GREEN since round 13:
# the filter was always deterministic — it was rows-only only
# because xxhash64 is Spark-internal. The positions now come from
# the suite's engine-portable md5 idiom (60-bit prefix of
# md5("user:seed") mod M), M is sized IN-PLAN by the integer
# next-power-of-two rule 1 << bit_length(max(10n, 65536) - 1) (this
# also removes the old driver-side .count()), and the rates moved to
# exact micro integers (pfdiv floor division) — pow()/round() on
# doubles are not cross-engine reproducible, micro ints are. The
# filter itself stays a SPARSE OCCUPIED-BIT SET (Spark's internal
# bloom_filter_agg is not in the public registry, and the sparse-set
# formulation keeps every step a plain distinct/join, exactly how a
# 100 TB join-pruning filter ships between stages): build over the
# first half-window's users, probe the second half, measure FPR
# against the EXACT membership join. M sized at 10 bits/key (floor
# 2^16) so the filter never saturates as SF grows (round-8 advisor
# finding). Two executed in-plan contracts: (1) ZERO false
# negatives — the Bloom guarantee, any miss is a bug, not noise;
# (2) measured FPR within a budget derived IN-PLAN from the observed
# fill, 3*(n_occ/M)^5 + small-sample slack (all micro-integer
# arithmetic), not a scale-fragile constant.
# ---------------------------------------------------------------------------
_Q400_K = 5


def _q400_oracle() -> str:
    h = (
        "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':'"
        " || CAST(seed AS VARCHAR)), 1, 15) AS BIGINT)"
    )
    return f"""
    WITH early AS MATERIALIZED (
        SELECT DISTINCT user_id FROM events
        WHERE ts < TIMESTAMP '2024-01-16'
    ),
    late AS MATERIALIZED (
        SELECT DISTINCT user_id FROM events
        WHERE ts >= TIMESTAMP '2024-01-16'
    ),
    mframe AS (
        SELECT CAST(CAST(1 AS BIGINT)
               << length(bin(greatest(10 * count(*), 65536) - 1))
               AS BIGINT) AS m_bits
        FROM early
    ),
    seeds AS (SELECT unnest(range(1, {_Q400_K + 1})) AS seed),
    epos AS MATERIALIZED (
        SELECT DISTINCT ({h} % m.m_bits) AS pos
        FROM early, seeds, mframe m
    ),
    ppos AS (
        SELECT user_id, ({h} % m.m_bits) AS pos
        FROM late, seeds, mframe m
    ),
    hits AS (
        SELECT p.user_id, (count(o.pos) = {_Q400_K}) AS bloom_hit
        FROM ppos p LEFT JOIN epos o ON o.pos = p.pos
        GROUP BY p.user_id
    ),
    exact AS (
        SELECT l.user_id, (e.user_id IS NOT NULL) AS truly_member
        FROM late l LEFT JOIN early e ON e.user_id = l.user_id
    ),
    audit AS (
        SELECT CAST(count(*) AS BIGINT) AS n_probes,
               CAST(sum(CASE WHEN x.truly_member THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_members,
               CAST(sum(CASE WHEN x.truly_member AND NOT h.bloom_hit
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS false_negatives,
               CAST(sum(CASE WHEN NOT x.truly_member AND h.bloom_hit
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS false_positives
        FROM hits h JOIN exact x ON x.user_id = h.user_id
    ),
    occ AS (SELECT CAST(count(*) AS BIGINT) AS n_occ FROM epos)
    SELECT a.n_probes, a.n_members, a.false_negatives, a.false_positives,
           CAST(CASE WHEN a.n_probes > a.n_members
                THEN (1000000 * a.false_positives)
                     // (a.n_probes - a.n_members)
                ELSE 0 END AS BIGINT) AS fpr_micro,
           CAST((CAST(o.n_occ AS HUGEINT) * o.n_occ * o.n_occ * o.n_occ
                 * o.n_occ * 1000000)
                // (CAST(m.m_bits AS HUGEINT) * m.m_bits * m.m_bits
                    * m.m_bits * m.m_bits) AS BIGINT)
               AS fpp_theory_micro,
           o.n_occ, m.m_bits
    FROM audit a CROSS JOIN occ o CROSS JOIN mframe m
    """


@query("q400_bloom_filter_audit", oracle=_q400_oracle())
def q400_bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:

    from pipeline_usnvc_spark.operators.contracts import contract_filter
    from pipeline_usnvc_spark.plans.round12_queries import _pfdiv

    K = _Q400_K
    from pipeline_usnvc_spark.operators.checkpoint import materialize

    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("timestamp")
    # user-grain distincts checkpointed ONCE: sizing, positions,
    # occupancy and the exact-membership join otherwise each re-scan
    # raw events (plan audit found 18 scans; the slim key sets are
    # exactly what a 100 TB join-pruning build would persist)
    early = materialize(ev.filter(F.col("ts") < split).select("user_id").distinct())
    late = materialize(ev.filter(F.col("ts") >= split).select("user_id").distinct())
    # in-plan sizing (bounded 1-row frame, broadcast): next power of
    # two of 10 bits/key, floor 2^16 — integer bit_length, no log2
    m_frame = early.agg(F.count("*").alias("_n")).select(
        F.expr(
            "cast(shiftleft(cast(1 as bigint),"
            " cast(length(conv(cast(greatest(10 * _n, 65536) - 1 as string),"
            " 10, 2)) as int)) as bigint)"
        ).alias("m_bits")
    )
    seeds = F.broadcast(
        spark.range(1, K + 1).select(F.col("id").cast("int").alias("seed"))
    )

    def positions(df):
        return (
            df.crossJoin(F.broadcast(m_frame))
            .crossJoin(seeds)
            .select(
                "user_id",
                "seed",
                (
                    F.expr(
                        "cast(conv(substring(md5(concat(cast(user_id as string),"
                        " ':', cast(seed as string))), 1, 15), 16, 10) as bigint)"
                    )
                    % F.col("m_bits")
                ).alias("pos"),
            )
        )

    occupied = positions(early).select("pos").distinct()
    probe = positions(late)
    # a probe user is a Bloom hit iff ALL K of its bit positions are
    # occupied; the join is an equi-join on the bounded bit domain
    hits = (
        probe.join(occupied.withColumnRenamed("pos", "occ"),
                   F.col("pos") == F.col("occ"), "left")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("occ").isNotNull(), 1).otherwise(0)).alias("n_set")
        )
        .select("user_id", (F.col("n_set") == K).alias("bloom_hit"))
    )
    exact = late.join(
        early.withColumnRenamed("user_id", "e_user"),
        F.col("user_id") == F.col("e_user"),
        "left",
    ).select("user_id", F.col("e_user").isNotNull().alias("truly_member"))
    joined = hits.join(exact, "user_id")
    audit = joined.agg(
        F.count("*").cast("bigint").alias("n_probes"),
        F.sum(F.when(F.col("truly_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_members"),
        F.sum(
            F.when(F.col("truly_member") & ~F.col("bloom_hit"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("false_negatives"),
        F.sum(
            F.when(~F.col("truly_member") & F.col("bloom_hit"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("false_positives"),
    )
    occ_count = occupied.agg(F.count("*").cast("bigint").alias("n_occ"))
    d38 = lambda c: c.cast("decimal(38,0)")
    with_rate = (
        audit.crossJoin(F.broadcast(occ_count))
        .crossJoin(F.broadcast(m_frame))
        .select(
            "n_probes",
            "n_members",
            "false_negatives",
            "false_positives",
            F.when(
                F.col("n_probes") > F.col("n_members"),
                _pfdiv(
                    F.lit(1000000) * F.col("false_positives"),
                    F.col("n_probes") - F.col("n_members"),
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("fpr_micro"),
            # (n_occ/M)^5 in micro units, exact: n_occ^5 * 1e6 // M^5
            # (n_occ <= M <= ~2^20 -> numerator <= 1e36, inside D38)
            _pfdiv(
                d38(F.col("n_occ")) * d38(F.col("n_occ")) * d38(F.col("n_occ"))
                * d38(F.col("n_occ")) * d38(F.col("n_occ"))
                * d38(F.lit(1000000)),
                d38(F.col("m_bits")) * d38(F.col("m_bits")) * d38(F.col("m_bits"))
                * d38(F.col("m_bits")) * d38(F.col("m_bits")),
            )
            .cast("bigint")
            .alias("fpp_theory_micro"),
            "n_occ",
            "m_bits",
        )
    )
    checked = contract_filter(
        with_rate,
        F.col("false_negatives") == 0,
        F.concat(
            F.lit("bloom filter false negative(s): "),
            F.col("false_negatives").cast("string"),
            F.lit(" of "),
            F.col("n_members").cast("string"),
        ),
    )
    # budget rides the observed fill: a non-member probe with K
    # independent positions false-positives with prob ~= (n_occ/M)^K;
    # allow 3x that plus Poisson small-sample slack so the contract is
    # tight at every SF instead of a constant that saturates or gapes
    return contract_filter(
        checked,
        F.col("fpr_micro")
        <= F.lit(3) * F.col("fpp_theory_micro")
        + _pfdiv(
            F.lit(10_000_000),
            F.greatest(F.col("n_probes") - F.col("n_members"), F.lit(1)),
        ).cast("bigint"),
        F.concat(
            F.lit("bloom FPR out of budget: "), F.col("fpr_micro").cast("string")
        ),
    )


# ---------------------------------------------------------------------------
# q401 — Hill tail-index estimator on order values: alpha^-1 = mean
# of ln(x_i / x_(k+1)) over the top-k order statistics — the
# heavy-tail diagnostic that says whether mean-based capacity
# planning is even meaningful. The top-(k+1) slice is a TakeOrdered
# (tie-free: cents desc, orderkey), k = 100 fixed; per-row ln ratios
# micro-round before the exact sum (the q217 rule); the index and
# its reciprocal floor to micro. Everything after the slice is
# bounded-spine arithmetic.
# ---------------------------------------------------------------------------
@query(
    "q401_hill_tail_index",
    oracle="""
    WITH cents AS (
        SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS c
        FROM orders
    ),
    topk AS (
        SELECT o_orderkey, c,
               CAST(row_number() OVER (ORDER BY c DESC, o_orderkey) AS BIGINT) AS rk
        FROM cents QUALIFY rk <= 101
    ),
    thresh AS (SELECT c AS x_k1 FROM topk WHERE rk = 101),
    terms AS (
        SELECT CAST(round(1000000.0 * ln(CAST(t.c AS DOUBLE) / CAST(th.x_k1 AS DOUBLE)))
                    AS BIGINT) AS ln_micro
        FROM topk t CROSS JOIN thresh th WHERE t.rk <= 100
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ln_micro) AS BIGINT) AS s
        FROM terms
    )
    SELECT k,
           CAST((s - s % k) // k AS BIGINT) / 1000000.0 AS hill_inv_alpha,
           CASE WHEN s > 0
                THEN CAST((CAST(k AS HUGEINT) * 1000000000000
                           - (CAST(k AS HUGEINT) * 1000000000000) % s) // s AS BIGINT)
                     / 1000000.0 END AS hill_alpha
    FROM agg
    """,
)
def q401_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderkey", F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    )
    topk = cents.orderBy(F.col("c").desc(), F.col("o_orderkey")).limit(101)
    w = Window.orderBy(F.col("c").desc(), F.col("o_orderkey"))
    ranked = topk.select(
        "c", F.row_number().over(w).cast("bigint").alias("rk")
    )
    thresh = ranked.filter(F.col("rk") == 101).select(F.col("c").alias("x_k1"))
    terms = (
        ranked.filter(F.col("rk") <= 100)
        .crossJoin(F.broadcast(thresh))
        .select(
            F.round(
                F.lit(1000000.0)
                * F.log(F.col("c").cast("double") / F.col("x_k1").cast("double"))
            )
            .cast("bigint")
            .alias("ln_micro")
        )
    )
    agg = terms.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("ln_micro").cast("bigint").alias("s"),
    )
    inv = (
        (F.col("s") - F.pmod(F.col("s"), F.col("k"))) / F.col("k")
    ).cast("bigint").cast("double") / F.lit(1000000.0)
    alpha_num = _d38(F.col("k")) * F.lit(1000000000000).cast("decimal(38,0)")
    alpha = F.when(
        F.col("s") > 0,
        ((alpha_num - F.pmod(alpha_num, _d38(F.col("s")))) / _d38(F.col("s")))
        .cast("bigint")
        .cast("double")
        / F.lit(1000000.0),
    )
    return agg.select(
        "k", inv.alias("hill_inv_alpha"), alpha.alias("hill_alpha")
    )


# ---------------------------------------------------------------------------
# q402 — Gumbel extreme-value fit on monthly maxima of daily order
# counts (method of moments: beta = sd*sqrt(6)/pi, mu = mean -
# gamma*beta): the capacity question "what daily peak should next
# year expect" answered with the right distribution instead of a
# normal. Daily counts -> month-spine maxima (bounded ~80 rows);
# moments are exact integer sums over that spine; the fit and the
# 99th-percentile return level mu - beta*ln(-ln 0.99) are one
# identical final tree, rounded 6dp.
# ---------------------------------------------------------------------------
@query(
    "q402_gumbel_maxima",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS mon,
               CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1, 2
    ),
    monthly AS (
        SELECT mon, CAST(max(x) AS BIGINT) AS mx FROM daily GROUP BY mon
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(mx) AS BIGINT) AS s,
               CAST(sum(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS ss
        FROM monthly
    )
    SELECT n AS n_months,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_peak,
           round(sqrt(CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                 * sqrt(6.0) / pi(), 6) AS gumbel_beta,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                 - 0.5772156649015329
                   * (sqrt(CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
                           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                      * sqrt(6.0) / pi()), 6) AS gumbel_mu,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                 - 0.5772156649015329
                   * (sqrt(CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
                           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                      * sqrt(6.0) / pi())
                 - (sqrt(CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                    * sqrt(6.0) / pi()) * ln(-ln(0.99)), 6) AS return_level_p99
    FROM mom
    """,
)
def q402_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.trunc(F.to_date("o_orderdate"), "month").alias("mon"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("d"),
    ).agg(F.count("*").cast("bigint").alias("x"))
    monthly = daily.groupBy("mon").agg(F.max("x").cast("bigint").alias("mx"))
    mom = monthly.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("mx").cast("bigint").alias("s"),
        F.sum(_d38(F.col("mx")) * _d38(F.col("mx"))).cast("decimal(38,0)").alias("ss"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    sd = F.sqrt(
        (_d38(F.col("n")) * F.col("ss") - _d38(F.col("s")) * _d38(F.col("s"))).cast(
            "double"
        )
        / (nd * nd)
    )
    beta = sd * F.sqrt(F.lit(6.0)) / F.lit(math.pi)
    mu = mean - F.lit(0.5772156649015329) * beta
    return mom.select(
        F.col("n").alias("n_months"),
        F.round(mean, 6).alias("mean_peak"),
        F.round(beta, 6).alias("gumbel_beta"),
        F.round(mu, 6).alias("gumbel_mu"),
        F.round(
            mu - beta * F.log(-F.log(F.lit(0.99))), 6
        ).alias("return_level_p99"),
    )


# ---------------------------------------------------------------------------
# q403 — standardized-mean-difference covariate balance audit: per
# nation, the SMD of customer account balance between F-status-order
# customers ("treated") and the rest — the table-one check run
# before any causal read of an experiment (|SMD| < 0.1 = balanced).
# Group moments are exact integer cent sums on the nation spine; SMD
# = (m1-m0)/sqrt((v1+v0)/2) is one identical final tree with the
# variance clamped at 0 (the round-3 DuckDB sqrt(-ulp) hard-error
# trap) and guarded on both groups being non-degenerate.
# ---------------------------------------------------------------------------
@query(
    "q403_smd_balance",
    oracle="""
    WITH treated AS (
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ),
    base AS (
        SELECT c.c_nationkey, CAST(floor(c.c_acctbal * 100) AS BIGINT) AS cents,
               CASE WHEN t.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS g
        FROM customer c LEFT JOIN treated t ON t.o_custkey = c.c_custkey
    ),
    moments AS (
        SELECT c_nationkey,
               CAST(coalesce(sum(CASE WHEN g = 1 THEN 1 END), 0) AS BIGINT) AS n1,
               CAST(coalesce(sum(CASE WHEN g = 1 THEN cents END), 0) AS BIGINT) AS s1,
               CAST(coalesce(sum(CASE WHEN g = 1 THEN CAST(cents AS HUGEINT) * cents END), 0) AS HUGEINT) AS ss1,
               CAST(coalesce(sum(CASE WHEN g = 0 THEN 1 END), 0) AS BIGINT) AS n0,
               CAST(coalesce(sum(CASE WHEN g = 0 THEN cents END), 0) AS BIGINT) AS s0,
               CAST(coalesce(sum(CASE WHEN g = 0 THEN CAST(cents AS HUGEINT) * cents END), 0) AS HUGEINT) AS ss0
        FROM base GROUP BY c_nationkey
    )
    SELECT n.n_name, m.n1 AS n_treated, m.n0 AS n_control,
           CASE WHEN m.n1 > 1 AND m.n0 > 1
                     AND greatest(CAST(CAST(m.n1 AS HUGEINT) * m.ss1 - CAST(m.s1 AS HUGEINT) * m.s1 AS DOUBLE)
                                  / (CAST(m.n1 AS DOUBLE) * CAST(m.n1 AS DOUBLE)), 0.0)
                         + greatest(CAST(CAST(m.n0 AS HUGEINT) * m.ss0 - CAST(m.s0 AS HUGEINT) * m.s0 AS DOUBLE)
                                    / (CAST(m.n0 AS DOUBLE) * CAST(m.n0 AS DOUBLE)), 0.0) > 0
                THEN round((CAST(m.s1 AS DOUBLE) / CAST(m.n1 AS DOUBLE)
                            - CAST(m.s0 AS DOUBLE) / CAST(m.n0 AS DOUBLE))
                           / sqrt((greatest(CAST(CAST(m.n1 AS HUGEINT) * m.ss1 - CAST(m.s1 AS HUGEINT) * m.s1 AS DOUBLE)
                                            / (CAST(m.n1 AS DOUBLE) * CAST(m.n1 AS DOUBLE)), 0.0)
                                   + greatest(CAST(CAST(m.n0 AS HUGEINT) * m.ss0 - CAST(m.s0 AS HUGEINT) * m.s0 AS DOUBLE)
                                              / (CAST(m.n0 AS DOUBLE) * CAST(m.n0 AS DOUBLE)), 0.0)) / 2.0), 6)
           END AS smd,
           CASE WHEN m.n1 > 1 AND m.n0 > 1
                     AND greatest(CAST(CAST(m.n1 AS HUGEINT) * m.ss1 - CAST(m.s1 AS HUGEINT) * m.s1 AS DOUBLE)
                                  / (CAST(m.n1 AS DOUBLE) * CAST(m.n1 AS DOUBLE)), 0.0)
                         + greatest(CAST(CAST(m.n0 AS HUGEINT) * m.ss0 - CAST(m.s0 AS HUGEINT) * m.s0 AS DOUBLE)
                                    / (CAST(m.n0 AS DOUBLE) * CAST(m.n0 AS DOUBLE)), 0.0) > 0
                THEN abs(round((CAST(m.s1 AS DOUBLE) / CAST(m.n1 AS DOUBLE)
                            - CAST(m.s0 AS DOUBLE) / CAST(m.n0 AS DOUBLE))
                           / sqrt((greatest(CAST(CAST(m.n1 AS HUGEINT) * m.ss1 - CAST(m.s1 AS HUGEINT) * m.s1 AS DOUBLE)
                                            / (CAST(m.n1 AS DOUBLE) * CAST(m.n1 AS DOUBLE)), 0.0)
                                   + greatest(CAST(CAST(m.n0 AS HUGEINT) * m.ss0 - CAST(m.s0 AS HUGEINT) * m.s0 AS DOUBLE)
                                              / (CAST(m.n0 AS DOUBLE) * CAST(m.n0 AS DOUBLE)), 0.0)) / 2.0), 6)) < 0.1
           END AS balanced
    FROM moments m JOIN nation n ON n.n_nationkey = m.c_nationkey
    ORDER BY n.n_name
    """,
)
def q403_smd_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    treated = (
        o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    )
    base = c.join(
        treated, c["c_custkey"] == treated["o_custkey"], "left"
    ).select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
        F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("g"),
    )
    z38 = F.lit(0).cast("decimal(38,0)")
    moments = base.groupBy("c_nationkey").agg(
        F.coalesce(F.sum(F.when(F.col("g") == 1, 1)), F.lit(0))
        .cast("bigint")
        .alias("n1"),
        F.coalesce(F.sum(F.when(F.col("g") == 1, F.col("cents"))), F.lit(0))
        .cast("bigint")
        .alias("s1"),
        F.coalesce(
            F.sum(F.when(F.col("g") == 1, _d38(F.col("cents")) * _d38(F.col("cents")))),
            z38,
        )
        .cast("decimal(38,0)")
        .alias("ss1"),
        F.coalesce(F.sum(F.when(F.col("g") == 0, 1)), F.lit(0))
        .cast("bigint")
        .alias("n0"),
        F.coalesce(F.sum(F.when(F.col("g") == 0, F.col("cents"))), F.lit(0))
        .cast("bigint")
        .alias("s0"),
        F.coalesce(
            F.sum(F.when(F.col("g") == 0, _d38(F.col("cents")) * _d38(F.col("cents")))),
            z38,
        )
        .cast("decimal(38,0)")
        .alias("ss0"),
    )

    def var_of(nn, s, ss):
        ndd = F.col(nn).cast("double")
        return F.greatest(
            (_d38(F.col(nn)) * F.col(ss) - _d38(F.col(s)) * _d38(F.col(s))).cast(
                "double"
            )
            / (ndd * ndd),
            F.lit(0.0),
        )

    v1 = var_of("n1", "s1", "ss1")
    v0 = var_of("n0", "s0", "ss0")
    valid = (F.col("n1") > 1) & (F.col("n0") > 1) & (v1 + v0 > 0)
    smd = F.round(
        (
            F.col("s1").cast("double") / F.col("n1").cast("double")
            - F.col("s0").cast("double") / F.col("n0").cast("double")
        )
        / F.sqrt((v1 + v0) / F.lit(2.0)),
        6,
    )
    return (
        moments.join(
            F.broadcast(n), n["n_nationkey"] == moments["c_nationkey"]
        )
        .select(
            "n_name",
            F.col("n1").alias("n_treated"),
            F.col("n0").alias("n_control"),
            F.when(valid, smd).alias("smd"),
            F.when(valid, F.abs(smd) < 0.1).alias("balanced"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q404 — SPRT (sequential probability ratio test) monitor on daily
# purchase-share: fold the log-likelihood ratio for H1: p=0.25 vs
# H0: p=0.2 day by day with Wald boundaries (alpha=beta=0.05),
# reporting the final LLR, the decision, and the first crossing day
# — the sequential-testing counterpart of q315's fixed-horizon z.
# Per-day increments are exact integer combinations of the two
# micro-rounded log ratios (computed ONCE as literals of the
# identical expression); the fold is an exact integer cumulative sum
# on the bounded day spine with the first-crossing argmin made
# tie-free by day order.
# ---------------------------------------------------------------------------
@query(
    "q404_sprt_monitor",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS DATE) AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    consts AS (
        SELECT CAST(round(1000000.0 * ln(0.25 / 0.2)) AS BIGINT) AS l1,
               CAST(round(1000000.0 * ln(0.75 / 0.8)) AS BIGINT) AS l0,
               CAST(round(1000000.0 * ln(0.95 / 0.05)) AS BIGINT) AS up,
               CAST(round(1000000.0 * ln(0.05 / 0.95)) AS BIGINT) AS lo
    ),
    cum AS (
        SELECT d, n, x,
               CAST(sum(x * c.l1 + (n - x) * c.l0) OVER (ORDER BY d) AS BIGINT) AS llr_micro,
               c.up, c.lo
        FROM daily CROSS JOIN consts c
    ),
    crossing AS (
        SELECT min(CASE WHEN llr_micro >= up OR llr_micro <= lo THEN d END) AS first_cross
        FROM cum
    ),
    final AS (
        SELECT d, llr_micro, up, lo FROM cum ORDER BY d DESC LIMIT 1
    )
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST(f.llr_micro AS DOUBLE) / 1000000.0 AS final_llr,
           CASE WHEN f.llr_micro >= f.up THEN 'accept_h1'
                WHEN f.llr_micro <= f.lo THEN 'accept_h0'
                ELSE 'continue' END AS decision,
           CAST(c.first_cross AS VARCHAR) AS first_crossing_day
    FROM final f CROSS JOIN crossing c
    """,
)
def q404_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("x"),
    )
    l1 = int(round(1000000.0 * math.log(0.25 / 0.2)))
    l0 = int(round(1000000.0 * math.log(0.75 / 0.8)))
    up = int(round(1000000.0 * math.log(0.95 / 0.05)))
    lo = int(round(1000000.0 * math.log(0.05 / 0.95)))
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        F.sum(
            F.col("x") * F.lit(l1) + (F.col("n") - F.col("x")) * F.lit(l0)
        )
        .over(w_cum)
        .cast("bigint")
        .alias("llr_micro"),
    )
    crossing = cum.agg(
        F.min(
            F.when(
                (F.col("llr_micro") >= up) | (F.col("llr_micro") <= lo), F.col("d")
            )
        ).alias("first_cross")
    )
    final = cum.orderBy(F.col("d").desc()).limit(1)
    n_days = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    return (
        final.crossJoin(F.broadcast(crossing))
        .crossJoin(F.broadcast(n_days))
        .select(
            "n_days",
            (F.col("llr_micro").cast("double") / F.lit(1000000.0)).alias(
                "final_llr"
            ),
            F.when(F.col("llr_micro") >= up, F.lit("accept_h1"))
            .when(F.col("llr_micro") <= lo, F.lit("accept_h0"))
            .otherwise(F.lit("continue"))
            .alias("decision"),
            F.col("first_cross").cast("string").alias("first_crossing_day"),
        )
    )
